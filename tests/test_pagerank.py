import numpy as np
import pytest

from tests.conftest import PRWCC_EDGES, PRWCC_VERTEX_IDS, make_graph
from tests.oracles import pagerank_classic_oracle, pagerank_hugegraph_oracle, random_graph

from incubator_hugegraph_computer_spark.operators.pagerank import pagerank, pagerank_classic
from incubator_hugegraph_computer_spark.plans import local

# The fixtures fit plans/local.LOCAL_EDGES, so by default the PageRank
# entry points run the driver kernel; a cap of 0 runs BspEngine.
BOTH_PATHS = (0, local.LOCAL_EDGES)


def _as_dict(df):
    return {r["id"]: r["rank"] for r in df.collect()}


@pytest.fixture(scope="module")
def fixture_graph(spark):
    return make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS).cache()


def test_classic_matches_numpy_oracle(spark, fixture_graph):
    got = _as_dict(pagerank_classic(fixture_graph, max_iterations=100, tol=1e-12))
    ids = sorted(PRWCC_VERTEX_IDS)
    index = {v: i for i, v in enumerate(ids)}
    want = pagerank_classic_oracle(len(ids), PRWCC_EDGES, index)
    got_vec = np.array([got[v] for v in ids])
    assert np.allclose(got_vec, want, atol=1e-6, rtol=0)
    assert abs(got_vec.sum() - 1.0) < 1e-9  # probability mass conserved


def test_hugegraph_formula_parity(spark, fixture_graph, monkeypatch):
    """Engine replicates PageRank.java:85-87 + master stop rule exactly,
    on BspEngine and on the driver kernel."""
    ids = sorted(PRWCC_VERTEX_IDS)
    index = {v: i for i, v in enumerate(ids)}
    want = pagerank_hugegraph_oracle(len(ids), PRWCC_EDGES, index, max_supersteps=10)
    for cap in BOTH_PATHS:
        monkeypatch.setattr(local, "LOCAL_EDGES", cap)
        got = _as_dict(pagerank(fixture_graph, max_supersteps=10))
        got_vec = np.array([got[v] for v in ids])
        assert np.allclose(got_vec, want, atol=1e-9, rtol=0), cap


def test_pagerank_stride_parity(spark, fixture_graph):
    """stride mode = same math, fewer barriers: per-vertex ranks must
    match the per-superstep schedule to float-sum noise, for stride
    sizes that divide the 10-step budget evenly and ones that don't."""
    base = _as_dict(pagerank(fixture_graph, max_supersteps=10))
    for stride in (2, 3, 4):
        got = _as_dict(pagerank(fixture_graph, max_supersteps=10, method="stride", stride=stride))
        assert set(got) == set(base)
        assert max(abs(got[k] - base[k]) for k in base) < 1e-12, stride
    with pytest.raises(ValueError):
        pagerank(fixture_graph, method="strde")


def test_classic_random_graph(spark):
    edges = random_graph(60, 300, seed=7)
    g = make_graph(spark, edges, vertex_ids=range(60))
    got = _as_dict(pagerank_classic(g, max_iterations=200, tol=1e-12))
    index = {v: v for v in range(60)}
    want = pagerank_classic_oracle(60, edges, index)
    got_vec = np.array([got[v] for v in range(60)])
    assert np.allclose(got_vec, want, atol=1e-6, rtol=0)


@pytest.mark.parametrize("graph", ["fixture", "random"])
def test_classic_bsp_matches_numpy_oracle(spark, fixture_graph, monkeypatch, graph):
    """BspEngine's pagerank_classic against the NumPy oracle after the
    same 10 fixed iterations, to float-sum noise. The two convergent
    oracle tests above run the driver kernel; ten supersteps keep the
    Spark path's check cheap, and the driver-vs-Spark parity tests in
    test_local_finish cover its tol halt."""
    monkeypatch.setattr(local, "LOCAL_EDGES", 0)
    if graph == "fixture":
        ids, edges, g = sorted(PRWCC_VERTEX_IDS), PRWCC_EDGES, fixture_graph
    else:
        ids, edges = list(range(60)), random_graph(60, 300, seed=7)
        g = make_graph(spark, edges, vertex_ids=ids)
    got = _as_dict(pagerank_classic(g, max_iterations=10, tol=0.0))
    index = {v: i for i, v in enumerate(ids)}
    want = pagerank_classic_oracle(len(ids), edges, index, tol=0.0, max_iter=10)
    assert max(abs(got[v] - want[index[v]]) for v in ids) <= 1e-12


def test_pagerank_warm_start(spark, fixture_graph):
    """Warm-starting from converged ranks halts almost immediately and
    reproduces the fixed point; warm-starting from an arbitrary positive
    seed reaches the same fixed point (the cumulative-rank normalization
    makes the iteration seed-invariant at convergence)."""
    from pyspark.sql import functions as F

    from incubator_hugegraph_computer_spark.operators.pagerank import PageRankProgram
    from incubator_hugegraph_computer_spark.plans.bsp import BspEngine

    # alpha=0.5 so the L1 residual decays ~0.5^k and the 1e-7 threshold
    # is reachable in ~25 supersteps (with the Java default 0.85 decay,
    # 1e-7 needs ~100 — same semantics, cheaper test)
    def run(initial_ranks=None, max_steps=60):
        prog = PageRankProgram(alpha=0.5, l1_threshold=1e-7)
        prog.initial_ranks = initial_ranks
        engine = BspEngine(fixture_graph, max_supersteps=max_steps, count_messages=False)
        state, ctx = engine.run(prog)
        return state.select("id", "rank"), ctx.superstep

    cold, steps_cold = run()
    cold_ranks = {r["id"]: r["rank"] for r in cold.collect()}

    warm, steps_warm = run(initial_ranks=cold)
    warm_ranks = {r["id"]: r["rank"] for r in warm.collect()}
    assert steps_warm < steps_cold
    assert steps_warm <= 3
    for vid, rank in cold_ranks.items():
        assert warm_ranks[vid] == pytest.approx(rank, abs=1e-6)

    # skewed positive seed -> same fixed point
    skew = cold.select("id", (F.col("id") + 1.0).alias("rank"))
    skewed, _ = run(initial_ranks=skew)
    for r in skewed.collect():
        assert r["rank"] == pytest.approx(cold_ranks[r["id"]], abs=1e-6)


def test_pagerank_classic_warm_start(spark, fixture_graph):
    """pagerank_classic initial_ranks: a uniform seed reproduces the
    cold start bit-identically (same recurrence, same plan), and a
    converged seed stays at the fixed point under further iterations —
    the crawl-delta re-rank path."""
    from pyspark.sql import functions as F

    from incubator_hugegraph_computer_spark.operators.pagerank import (
        pagerank_classic,
    )

    cold = pagerank_classic(
        fixture_graph, max_iterations=4, tol=0.0, count_messages=False
    )
    n = fixture_graph.num_vertices()
    uniform = fixture_graph.vertices.select(
        "id", F.lit(1.0 / n).alias("rank")
    )
    warm_uniform = pagerank_classic(
        fixture_graph,
        max_iterations=4,
        tol=0.0,
        count_messages=False,
        initial_ranks=uniform,
    )
    a = {r["id"]: r["rank"] for r in cold.collect()}
    b = {r["id"]: r["rank"] for r in warm_uniform.collect()}
    assert a == b  # bit-identical: identical recurrence from the same seed

    converged = pagerank_classic(
        fixture_graph, max_iterations=60, tol=0.0, count_messages=False
    )
    cont = pagerank_classic(
        fixture_graph,
        max_iterations=5,
        tol=0.0,
        count_messages=False,
        initial_ranks=converged,
    )
    # warm(60) + 5 more iterations IS cold(65): same recurrence, same
    # operation order — bit-identical, the strongest resume guarantee
    cold65 = pagerank_classic(
        fixture_graph, max_iterations=65, tol=0.0, count_messages=False
    )
    want = {r["id"]: r["rank"] for r in cold65.collect()}
    got = {r["id"]: r["rank"] for r in cont.collect()}
    assert got == want
    # and 60 iterations are already near the fixed point: 5 more move
    # nothing beyond the residual decay scale
    fx = {r["id"]: r["rank"] for r in converged.collect()}
    for vid, rank in got.items():
        assert rank == pytest.approx(fx[vid], abs=1e-4)


def test_pagerank_classic_warm_start_new_vertices(spark):
    """Vertices the delta introduced (absent from the seed) start at
    1/n of the NEW vertex set: one fixed iteration from that seed is
    reproduced exactly by the hand recurrence."""
    from tests.conftest import make_graph

    from incubator_hugegraph_computer_spark.operators.pagerank import (
        pagerank_classic,
    )

    old = make_graph(spark, [(1, 2), (2, 3)])
    seed = pagerank_classic(old, max_iterations=3, tol=0.0, count_messages=False)
    seed_map = {r["id"]: r["rank"] for r in seed.collect()}

    new = make_graph(spark, [(1, 2), (2, 3), (3, 4)])
    got = {
        r["id"]: r["rank"]
        for r in pagerank_classic(
            new, max_iterations=1, tol=0.0, count_messages=False, initial_ranks=seed
        ).collect()
    }

    n = 4.0
    r0 = {v: seed_map.get(v, 1.0 / n) for v in (1, 2, 3, 4)}
    dang = r0[4] / n  # only vertex 4 is dangling in the new graph
    want = {
        1: (1 - 0.85) / n + 0.85 * (0.0 + dang),
        2: (1 - 0.85) / n + 0.85 * (r0[1] + dang),
        3: (1 - 0.85) / n + 0.85 * (r0[2] + dang),
        4: (1 - 0.85) / n + 0.85 * (r0[3] + dang),
    }
    for v, w in want.items():
        assert got[v] == pytest.approx(w, abs=1e-12)


def test_pagerank_classic_trace_numpy(spark, fixture_graph):
    """The per-superstep aggregator trace (l1, dangling, cum) matches a
    NumPy replay of the same recurrence, iteration by iteration."""
    from incubator_hugegraph_computer_spark.operators.pagerank import (
        pagerank_classic_trace,
    )

    iters = 4
    got = {
        r["superstep"]: (r["l1"], r["dangling"], r["cum"])
        for r in pagerank_classic_trace(fixture_graph, iterations=iters).collect()
    }
    assert sorted(got) == list(range(1, iters + 1))

    ids = sorted(PRWCC_VERTEX_IDS)
    index = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out_deg = np.zeros(n)
    for s, _ in PRWCC_EDGES:
        out_deg[index[s]] += 1
    r = np.full(n, 1.0 / n)
    for k in range(1, iters + 1):
        contrib = np.divide(r, out_deg, out=np.zeros(n), where=out_deg > 0)
        msg = np.zeros(n)
        for s, d in PRWCC_EDGES:
            msg[index[d]] += contrib[index[s]]
        dangling = r[out_deg == 0].sum()
        new = (1 - 0.85) / n + 0.85 * (msg + dangling / n)
        l1, dang_after, cum = (
            np.abs(new - r).sum(),
            new[out_deg == 0].sum(),
            new.sum(),
        )
        gl1, gdang, gcum = got[k]
        assert gl1 == pytest.approx(l1, abs=2e-6)
        assert gdang == pytest.approx(dang_after, abs=2e-6)
        assert gcum == pytest.approx(cum, abs=2e-6)
        r = new
