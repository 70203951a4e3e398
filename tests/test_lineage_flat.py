"""Lineage-discipline regression: converted driver loops stay flat.

PLANS.md ("Lineage discipline") measured that a loop chaining eager
``localCheckpoint(eager=True)`` per round doubles per-round wall time
from ~round 16 and OOMs the driver near round 60. Every iterative
operator loop now routes state through ``plans/lineage.barrier``; this
test drives the heaviest converted loop (scc's nested
propagate + backward sweep) through 45+ barriers on a long
directed cycle and asserts per-barrier wall time does NOT grow — the
cliff signature (2x per round) would blow the bound by orders of
magnitude long before round 45.
"""

from __future__ import annotations

import statistics
import time

import pytest
from pyspark.sql import functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators import scc as scc_mod
from incubator_hugegraph_computer_spark.plans.lineage import barrier

N = 100  # directed cycle length -> one SCC, ~2N/stride barriers


@pytest.fixture()
def cycle_graph(spark):
    edges = spark.range(N).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % N).alias("dst")
    )
    return Graph.from_edges(edges, num_partitions=4)


def timed_barrier(module, monkeypatch) -> list[float]:
    """Patch ``module.barrier`` to stamp the end of every barrier."""
    stamps: list[float] = []
    real_barrier = module.barrier

    def timed(prev, new, *aggs):
        out = real_barrier(prev, new, *aggs)
        stamps.append(time.monotonic())
        return out

    monkeypatch.setattr(module, "barrier", timed)
    return stamps


def test_scc_long_cycle_flat_rounds(spark, cycle_graph, monkeypatch):
    stamps = timed_barrier(scc_mod, monkeypatch)
    # drive the two inner loops directly with a budget covering the
    # cycle's N-1 propagation hops
    color = scc_mod._propagate_min(
        cycle_graph.vertices.select("id"),
        cycle_graph.edges.select("src", "dst"),
        max_iter=128,
        stride=4,
    )
    roots = color.where(F.col("color") == F.col("id")).select(
        "id", F.col("color").alias("scc")
    )
    rev = cycle_graph.edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    members = scc_mod._backward_sweep(roots, barrier(None, rev)[0], stride=4)

    # correctness: the whole cycle is one SCC rooted at 0
    rows = members.collect()
    assert len(rows) == N
    assert {r["scc"] for r in rows} == {0}
    assert {r["id"] for r in rows} == set(range(N))

    # flatness: >= 40 barriers ran; the last barriers are not slower than
    # the early ones beyond noise (the eager-chain cliff doubles per
    # round past ~16 -> late/early ratio would be >100x, not < 5x)
    gaps = [b - a for a, b in zip(stamps, stamps[1:])]
    assert len(gaps) >= 40, f"expected 40+ barriers, saw {len(gaps) + 1}"
    early = statistics.median(gaps[2:10])
    late = statistics.median(gaps[-8:])
    assert late < 5 * early + 0.5, (
        f"per-round wall time grew: early median {early:.3f}s, "
        f"late median {late:.3f}s over {len(gaps)} barriers"
    )

def test_build_layers_deep_chain_flat(spark, monkeypatch):
    """build_layers on a 50-deep path: the longest-path loop runs ~50
    barriers (one per condensation level). Before the r5
    conversion this loop chained eager localCheckpoints with a
    max_depth=200 budget — the measured cliff doubles per-round cost
    from ~16 and OOMs near 60, so a flat 50-round run is exactly the
    regression this pins."""
    from incubator_hugegraph_computer_spark.operators import code_graph as cg

    depth = 50
    edges = spark.range(depth).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    g = Graph.from_edges(edges, num_partitions=4)

    stamps = timed_barrier(cg, monkeypatch)
    rows = cg.build_layers(g, max_depth=depth + 5).collect()

    # correctness: a path graph layers each vertex at its depth
    assert {(r["id"], r["layer"]) for r in rows} == {(i, i) for i in range(depth + 1)}

    gaps = [b - a for a, b in zip(stamps, stamps[1:])]
    assert len(gaps) >= 45, f"expected 45+ barriers, saw {len(gaps) + 1}"
    early = statistics.median(gaps[2:10])
    late = statistics.median(gaps[-8:])
    assert late < 5 * early + 0.5, (
        f"per-round wall time grew: early median {early:.3f}s, "
        f"late median {late:.3f}s over {len(gaps)} barriers"
    )
