"""The driver finish (``plans/local.py``) and the Spark path give the same
answer: ``scc`` and ``wcc_contract`` run with ``LOCAL_EDGES`` at 0 (the
Spark path to the end), at its default, and one below the loop's first
edge count (the switch happens after at least one Spark round)."""

import numpy as np
import pytest

import tests.test_advanced_ops as advanced_ops
import tests.test_bsp_barrier as bsp_barrier
import tests.test_wcc as wcc_tests
from incubator_hugegraph_computer_spark.operators.scc import scc
from incubator_hugegraph_computer_spark.operators.wcc import wcc_contract
from incubator_hugegraph_computer_spark.plans import local
from tests.conftest import make_graph
from tests.oracles import random_graph, wcc_oracle

# Several SCCs ({10..13}, {14, 15, 16}, {18, 19}), a DAG tail into them,
# self-loops on 11 and 17, isolated 30 and 31, and edges to and from 5 and
# 99, which are not vertices: scc ignores them, wcc_contract connects
# through them (17 and 31 join 10's component via 5, whose id is lower).
MIXED_EDGES = [
    (10, 11), (11, 12), (12, 13), (13, 10), (10, 12),
    (14, 15), (15, 16), (16, 14), (13, 14),
    (18, 19), (19, 18), (16, 18),
    (20, 10), (21, 20), (22, 21), (22, 14),
    (11, 11), (17, 17),
    (13, 5), (5, 17), (31, 5), (99, 19),
]
MIXED_IDS = list(range(10, 23)) + [30, 31]
DAG_EDGES = [(a, b) for a, b in random_graph(30, 90, seed=3) if a < b]


def _scc_rows(g):
    return sorted((r["id"], r["scc"]) for r in scc(g).collect())


def _wcc_rows(g):
    return sorted((r["id"], r["comp"]) for r in wcc_contract(g).collect())


def _first_edge_count(op, edges):
    if op is _scc_rows:
        return sum(a != b for a, b in edges)
    return len({(min(a, b), max(a, b)) for a, b in edges if a != b})


@pytest.mark.parametrize("op", [_scc_rows, _wcc_rows], ids=["scc", "wcc_contract"])
@pytest.mark.parametrize(
    "edges,ids",
    [(MIXED_EDGES, MIXED_IDS), (DAG_EDGES, list(range(30)))],
    ids=["mixed", "dag"],
)
def test_outputs_identical_across_thresholds(spark, monkeypatch, op, edges, ids):
    g = make_graph(spark, edges, vertex_ids=ids)
    finishes = []
    for name in ("scc_labels", "wcc_labels"):
        real = getattr(local, name)

        def spy(*frames, real=real):
            finishes.append(frames[-1].count())  # live edges at the switch
            return real(*frames)

        monkeypatch.setattr(local, name, spy)

    first = _first_edge_count(op, edges)
    runs = {}
    for threshold in (0, local.LOCAL_EDGES, first - 1):
        monkeypatch.setattr(local, "LOCAL_EDGES", threshold)
        finishes.clear()
        runs[threshold] = op(g)
        # at 0, wcc_contract still finishes an empty edge set here
        assert all(n <= threshold for n in finishes)
        if threshold == first - 1:
            assert finishes and finishes[0] < first  # after a Spark round
    assert runs[0] == runs[local.LOCAL_EDGES] == runs[first - 1]
    in_vertices = [(a, b) for a, b in edges if a in ids and b in ids]
    if op is _scc_rows:
        assert dict(runs[0]) == advanced_ops.scc_oracle(ids, in_vertices)
    elif edges is DAG_EDGES:
        assert dict(runs[0]) == wcc_oracle(ids, edges)


def test_kernels_match_oracles():
    """The numpy kernels alone, on random graphs, against the Python
    oracles (vertex indexes are the ids here)."""
    for seed in range(40):
        n = 5 + seed
        edges = random_graph(n, 3 * n, seed=seed)
        src = np.array([a for a, _ in edges], np.int64)
        dst = np.array([b for _, b in edges], np.int64)
        assert dict(enumerate(local._tarjan_min(n, src, dst).tolist())) == (
            advanced_ops.scc_oracle(list(range(n)), edges)
        )
        assert dict(enumerate(local._union_find_min(n, src, dst).tolist())) == (
            wcc_oracle(list(range(n)), edges)
        )


def test_mixed_fixture_answers(spark):
    """Spot values the fixture's comment promises."""
    g = make_graph(spark, MIXED_EDGES, vertex_ids=MIXED_IDS)
    s = dict(_scc_rows(g))
    assert s[11] == s[13] == 10 and s[16] == 14 and s[19] == 18
    assert s[17] == 17 and s[30] == 30 and s[22] == 22
    w = dict(_wcc_rows(g))
    assert w[17] == w[31] == w[10] == 5 and w[30] == 30


@pytest.mark.parametrize(
    "test",
    [
        advanced_ops.test_scc_fixture,
        advanced_ops.test_scc_random,
        wcc_tests.test_wcc_contract_matches_propagate,
    ],
    ids=lambda t: t.__name__,
)
def test_spark_path_keeps_existing_checks(spark, monkeypatch, test):
    monkeypatch.setattr(local, "LOCAL_EDGES", 0)
    test(spark)


def test_spark_path_leaves_nothing_stored(spark, monkeypatch):
    monkeypatch.setattr(local, "LOCAL_EDGES", 0)
    g = make_graph(spark, bsp_barrier.CYCLIC_EDGES).cache()
    g.num_vertices()
    g.edges.count()
    try:
        bsp_barrier.test_scc_leaves_nothing_stored(spark, g)
    finally:
        g.unpersist()
