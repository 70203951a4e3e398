"""The driver kernels (``plans/local.py``) and the Spark path give the
same answer. ``scc`` and ``wcc_contract`` run with ``LOCAL_EDGES`` at 0
(the Spark path to the end), at its default, and one below the loop's
first edge count (the switch happens after at least one Spark round);
on a cached graph that fits ``scc`` switches at entry, before any
barrier.
The PageRank family runs with ``LOCAL_EDGES`` at 0 (BspEngine) and at
its default (the driver kernel)."""

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

import tests.test_advanced_ops as advanced_ops
import tests.test_bsp_barrier as bsp_barrier
import tests.test_wcc as wcc_tests
from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators import scc as scc_module
from incubator_hugegraph_computer_spark.operators.pagerank import (
    pagerank,
    pagerank_classic,
    pagerank_weighted,
)
from incubator_hugegraph_computer_spark.operators.quotient import host_rank
from incubator_hugegraph_computer_spark.operators.scc import scc
from incubator_hugegraph_computer_spark.operators.trustrank import spam_mass
from incubator_hugegraph_computer_spark.operators.wcc import wcc_contract
from incubator_hugegraph_computer_spark.plans import local
from incubator_hugegraph_computer_spark.plans.bsp import BspEngine
from tests.conftest import PRWCC_EDGES, PRWCC_VERTEX_IDS, make_graph
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
    """The graph is not cached, so the loop switches in-loop, off a
    barrier's count: at ``first - 1`` only after a Spark round."""
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


def _group_jobs(spark, group, fn):
    """``(fn(), job ids)``: run ``fn`` in the Spark job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, sc.statusTracker().getJobIdsForGroup(group)


# Jobs scc fires at entry on a cached, counted graph that fits
# (local[4], AQE), answer collected, measured on the fixtures below:
# one pull each of the vertices and the edges (the answer is a local
# relation and collects with no job; the empty graph takes 3).
ENTRY_JOBS = 2


@pytest.mark.parametrize(
    "edges,ids",
    [(MIXED_EDGES, MIXED_IDS), (DAG_EDGES, list(range(30))), ([], [])],
    ids=["mixed", "dag", "empty"],
)
def test_cached_graph_switches_at_entry(spark, monkeypatch, edges, ids):
    """On a cached, counted graph at the default ``LOCAL_EDGES`` ``scc``
    labels on the driver before any barrier, in at most its measured
    job count + 2; the rows and schema equal the Spark path's
    (``LOCAL_EDGES`` = 0) and the uncached graph's at both settings."""
    barriers = []
    real = scc_module.barrier
    monkeypatch.setattr(
        scc_module, "barrier", lambda *a, **k: barriers.append(1) or real(*a, **k)
    )
    g = make_graph(spark, edges, vertex_ids=ids).cache()
    g.num_vertices()
    g.num_edges()
    group = f"test-entry-scc-{uuid.uuid4().hex}"
    entry, jobs = _group_jobs(spark, group, lambda: scc(g).collect())
    assert not barriers
    assert len(jobs) <= ENTRY_JOBS + 2, len(jobs)
    frames = {}
    for threshold in (0, local.LOCAL_EDGES):
        monkeypatch.setattr(local, "LOCAL_EDGES", threshold)
        for cached in (True, False):
            barriers.clear()
            frames[threshold, cached] = scc(g if cached else make_graph(spark, edges, ids))
            # only a cached graph that fits skips the barriers (an empty
            # one fits at 0 too)
            assert bool(barriers) == (not cached or (threshold == 0 and ids != []))
    g.unpersist()
    want = sorted(map(tuple, entry))
    types = [(f.name, f.dataType) for f in frames[local.LOCAL_EDGES, True].schema]
    for key, frame in frames.items():
        assert sorted(map(tuple, frame.collect())) == want, key
        assert [(f.name, f.dataType) for f in frame.schema] == types, key


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


# PageRank fixture: a duplicate edge (0, 2), self-loops on 2 and 5,
# dangling 6, isolated 8 and 9, and edges to and from 98 and 99, which
# are not vertices: 7's only edge goes to 99, so its rank leaks out of
# the graph, and 99 -> 0 and 98 -> 3 send nothing. Weights: one null.
# Vertex 4 has two rows, so it is two state rows on the Spark path.
PR_EDGES = [
    (0, 1, 1.0), (0, 2, 2.0), (0, 2, 0.5), (1, 2, 1.5), (2, 0, 1.0),
    (2, 2, 0.25), (3, 4, 3.0), (4, 3, 1.0), (3, 5, None), (5, 5, 1.0),
    (1, 6, 2.0), (4, 0, 0.75), (7, 99, 1.0), (99, 0, 1.0), (98, 3, 1.0),
]
PR_IDS = list(range(10)) + [4]


@pytest.fixture(scope="module")
def pr_graph(spark):
    edges = spark.createDataFrame(PR_EDGES, "src long, dst long, weight double")
    verts = spark.createDataFrame([(v,) for v in PR_IDS], "id long")
    return Graph(verts, edges, num_partitions=4).cache()


PR_RUNS = {
    "pagerank": lambda g: pagerank(g),
    "pagerank_converges": lambda g: pagerank(g, alpha=0.5, max_supersteps=60),
    "classic_fixed": lambda g: pagerank_classic(g, max_iterations=6, tol=0.0),
    "classic_converges": lambda g: pagerank_classic(
        g, damping=0.5, max_iterations=200, tol=1e-6
    ),
    "weighted": lambda g: pagerank_weighted(g, max_iterations=6, tol=0.0),
    # a seed for some vertices (and for 99, which is not one), with a
    # null rank for 4: the others start at 1/n
    "pagerank_seeded": lambda g: pagerank(
        g,
        alpha=0.5,
        max_supersteps=60,
        initial_ranks=g.spark.createDataFrame(
            [(0, 0.3), (2, 0.05), (4, None), (6, 0.2), (99, 0.5)], "id long, rank double"
        ),
    ),
}


@pytest.mark.parametrize("run", sorted(PR_RUNS))
def test_pagerank_driver_matches_spark(spark, monkeypatch, pr_graph, run):
    """Per-vertex ranks within 1e-12, the same halting superstep and the
    same output schema on BspEngine and on the driver kernel."""
    steps = []
    real_local, real_run = local.pagerank, BspEngine.run

    def local_spy(*args):
        out, ctx = real_local(*args)
        steps.append(("driver", ctx.superstep))
        return out, ctx

    def engine_spy(self, *args, **kwargs):
        state, ctx = real_run(self, *args, **kwargs)
        steps.append(("spark", ctx.superstep))
        return state, ctx

    monkeypatch.setattr(local, "pagerank", local_spy)
    monkeypatch.setattr(BspEngine, "run", engine_spy)
    frames = {}
    for threshold in (0, local.LOCAL_EDGES):
        monkeypatch.setattr(local, "LOCAL_EDGES", threshold)
        frames[threshold] = PR_RUNS[run](pr_graph)
    (spark_path, spark_step), (driver_path, driver_step) = steps
    assert (spark_path, driver_path) == ("spark", "driver")
    assert spark_step == driver_step
    if "converges" in run or "seeded" in run:
        assert 1 < driver_step < 60  # halted on l1, not on the budget
    assert [(f.name, f.dataType) for f in frames[0].schema] == [
        (f.name, f.dataType) for f in frames[local.LOCAL_EDGES].schema
    ]
    want, got = (sorted(map(tuple, f.collect())) for f in frames.values())
    assert [v for v, _ in got] == [v for v, _ in want] == sorted(PR_IDS)
    assert max(abs(a[1] - b[1]) for a, b in zip(got, want)) <= 1e-12


# Jobs a 20-superstep pagerank fires on the driver on the PageRank/WCC
# fixture (local[4], AQE), measured: they count the edges (the vertex
# count is already kept), pull the vertices and edges, and collect the
# answer, whatever the superstep count.
PAGERANK_DRIVER_JOBS = 4


def test_pagerank_driver_kernel_costs(spark, monkeypatch):
    """On a cached, counted graph the driver kernel leaves at most one
    new persisted RDD and fires at most its measured job count + 2."""
    g = bsp_barrier._sql_graph(spark)
    g.num_vertices()
    g.edges.count()
    ran = []
    real = local.pagerank
    monkeypatch.setattr(local, "pagerank", lambda *a: ran.append(1) or real(*a))
    (out, added), jobs = _group_jobs(
        spark,
        "test-pagerank-driver-jobs",
        lambda: bsp_barrier.persisted_rdds_added(
            spark, lambda: pagerank(g, max_supersteps=20, l1_threshold=0.0).collect()
        ),
    )
    assert ran
    assert len(out) == len(PRWCC_VERTEX_IDS)
    assert len(added) <= 1, added
    assert len(jobs) <= PAGERANK_DRIVER_JOBS + 2, len(jobs)
    g.unpersist()


def test_pagerank_releases_what_it_cached(spark):
    """``host_rank`` hands ``pagerank_weighted`` a quotient graph it never
    cached, and ``spam_mass`` runs PageRank and TrustRank on a graph the
    caller never cached: neither leaves anything persisted. A graph the
    caller cached stays cached."""
    g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS)
    mapping = g.vertices.select("id", (F.col("id") % 3).alias("grp"))
    for run in (
        lambda: host_rank(g, mapping).collect(),
        lambda: spam_mass(g, [PRWCC_VERTEX_IDS[0]], max_iterations=3).collect(),
    ):
        out, added = bsp_barrier.persisted_rdds_added(spark, run, collect_garbage=True)
        assert out and not added, added
        assert not g.is_cached
    g.cache()
    pagerank(g).collect()
    assert g.is_cached and g.edges.is_cached and g.vertices.is_cached
    g.unpersist()
