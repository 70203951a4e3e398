"""Lineage-discipline regression: converted driver loops stay flat.

PLANS.md ("Lineage discipline") measured that a loop chaining eager
``localCheckpoint(eager=True)`` per round doubles per-round wall time
from ~round 16 and OOMs the driver near round 60. Every iterative
operator loop now routes state through ``plans/lineage.barrier``; these
tests drive ``BspEngine``'s barriers through 45+ rounds (scc's coloring
and backward sweep on a long directed cycle, build_layers' longest-path
loop on a deep chain) and assert per-barrier wall time does NOT grow —
the cliff signature (2x per round) would blow the bound by orders of
magnitude long before round 45.
"""

from __future__ import annotations

import statistics
import time

import pytest
from pyspark.sql import functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.scc import scc
from incubator_hugegraph_computer_spark.plans import bsp, local

N = 120  # directed cycle length -> one SCC, ~2N/stride engine barriers


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
    # the Spark rounds to the end: the coloring must cross all N - 1 hops
    # of the cycle, which a fixed 100-hop budget cut short (the cycle then
    # split into N singleton components)
    monkeypatch.setattr(local, "LOCAL_EDGES", 0)
    stamps = timed_barrier(bsp, monkeypatch)
    rows = scc(cycle_graph).collect()

    # correctness: the whole cycle is one SCC rooted at 0
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
    engine barriers (one per condensation level). Before the r5
    conversion this loop chained eager localCheckpoints with a
    max_depth=200 budget — the measured cliff doubles per-round cost
    from ~16 and OOMs near 60, so a flat 50-round run is exactly the
    regression this pins."""
    from incubator_hugegraph_computer_spark.operators.code_graph import build_layers

    depth = 50
    edges = spark.range(depth).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    g = Graph.from_edges(edges, num_partitions=4)

    stamps = timed_barrier(bsp, monkeypatch)
    rows = build_layers(g, max_depth=depth + 5).collect()

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
