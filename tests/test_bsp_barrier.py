"""Barrier invariants of the BSP superstep and the standalone loops:
what a run leaves stored, when it counts messages, and how many Spark
jobs a superstep costs."""

import gc
import time

import pytest

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.betweenness import betweenness
from incubator_hugegraph_computer_spark.operators.ktruss import trussness
from incubator_hugegraph_computer_spark.operators.pagerank import pagerank
from incubator_hugegraph_computer_spark.operators.scc import scc
from incubator_hugegraph_computer_spark.operators.wcc import WccProgram, wcc
from incubator_hugegraph_computer_spark.plans import local
from incubator_hugegraph_computer_spark.plans.bsp import BspEngine
from tests.conftest import PRWCC_EDGES, PRWCC_VERTEX_IDS, make_graph
from tests.test_templates import CappedMaxLabel, _components_graph


def persisted_rdds_added(spark, fn, collect_garbage=False):
    """``(fn(), ids)``: run ``fn`` and return the ids of the RDDs it
    left persisted (RDD blocks of caches and local checkpoints alike).

    ``collect_garbage`` repeats a Python and a JVM collection, for up to
    ~10 s, while the run still leaves something: a local checkpoint that
    no live frame references drops out, so what stays is what the run
    pinned (a cache entry, or a state it never let go of). Python frees
    its references to JVM objects from a background thread, so each JVM
    collection waits a little for it."""
    jsc = spark.sparkContext._jsc

    def snapshot():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    before = snapshot()
    out = fn()
    added = snapshot() - before
    for _ in range(20 if collect_garbage else 0):
        if not added:
            break
        gc.collect()
        time.sleep(0.5)
        spark.sparkContext._jvm.System.gc()
        added = snapshot() - before
    return out, added


@pytest.fixture()
def prwcc(spark):
    g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS).cache()
    g.num_vertices()
    g.edges.count()  # the graph's own caches exist before any snapshot
    return g


def test_pagerank_leaves_only_its_state(spark, prwcc, monkeypatch):
    monkeypatch.setattr(local, "LOCAL_EDGES", 0)  # BspEngine, not the driver kernel
    out, added = persisted_rdds_added(spark, lambda: pagerank(prwcc).collect())
    assert len(out) == len(PRWCC_VERTEX_IDS)
    assert len(added) <= 1, added


def test_checkpointed_pagerank_leaves_only_its_state(spark, prwcc, tmp_path):
    out, added = persisted_rdds_added(
        spark,
        lambda: pagerank(prwcc, checkpoint_dir=str(tmp_path), run_id="leak").collect(),
    )
    assert len(out) == len(PRWCC_VERTEX_IDS)
    assert len(added) <= 1, added


def test_wcc_leaves_only_its_state(spark, prwcc):
    out, added = persisted_rdds_added(spark, lambda: wcc(prwcc).collect())
    assert len(out) == len(PRWCC_VERTEX_IDS)
    assert len(added) <= 1, added


# A directed 4-cycle with both chords (an undirected K4), a directed
# triangle, and two tail edges: SCCs {0..3}, {4, 5, 6}, {7}; trussness
# 4 on the K4, 3 on the triangle, 2 on the tails.
CYCLIC_EDGES = [
    (0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (1, 3),
    (4, 5), (5, 6), (6, 4),
    (3, 4), (6, 7),
]


@pytest.fixture()
def cyclic(spark):
    g = make_graph(spark, CYCLIC_EDGES).cache()
    g.num_vertices()
    g.edges.count()
    yield g
    g.unpersist()


def test_scc_leaves_nothing_stored(spark, cyclic):
    """Every round's frame is released and the answer is one local
    checkpoint, which goes with the output. Persisting on top of the
    checkpoints pinned every part of the answer."""
    out, added = persisted_rdds_added(
        spark, lambda: scc(cyclic).collect(), collect_garbage=True
    )
    assert {r["id"]: r["scc"] for r in out} == {
        0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 7
    }
    assert not added, added


def test_trussness_leaves_nothing_stored(spark, cyclic):
    out, added = persisted_rdds_added(
        spark, lambda: trussness(cyclic).collect(), collect_garbage=True
    )
    k4 = {(a, b) for a in range(4) for b in range(a + 1, 4)}
    assert {(r["a"], r["b"]): r["trussness"] for r in out} == {
        **{e: 4 for e in k4}, (4, 5): 3, (4, 6): 3, (5, 6): 3, (3, 4): 2, (6, 7): 2
    }
    assert not added, added


@pytest.mark.parametrize("per_edge", [False, True], ids=["vertex", "edge"])
def test_betweenness_leaves_only_its_answer(spark, per_edge):
    """The answer is stored once before the edge cache and the per-level
    layer, credit and delta frames go; the vertex variant used to return
    a lazy frame over uncounted delta levels and release nothing."""
    n = 7
    g = make_graph(spark, [(i, (i + 1) % n) for i in range(n)]).cache()
    g.num_vertices()
    g.edges.count()
    out, added = persisted_rdds_added(spark, lambda: betweenness(g, per_edge=per_edge))
    rows = out.collect()  # ``out`` is still referenced while the count is read
    g.unpersist()
    # on a directed n-cycle every vertex lies inside (n-1)(n-2)/2 paths
    # and every edge on n(n-1)/2
    want = (n - 1) * (n - 2) / 2 if not per_edge else n * (n - 1) / 2
    assert len(rows) == n and all(r["betweenness"] == want for r in rows)
    assert len(added) <= 1, added


@pytest.mark.parametrize("program", [WccProgram, CappedMaxLabel])
def test_on_demand_count_keeps_termination(spark, program):
    """The default counts the inbox only once no vertex is active; it must
    stop at the same superstep, with the same answer, as counting every
    superstep. Both programs reach active_vertices == 0 with messages
    still in flight, so the no-messages half of the rule decides."""
    g = _components_graph(spark).symmetrized().cache()

    def run(count_messages):
        engine = BspEngine(g, max_supersteps=20, count_messages=count_messages)
        state, ctx = engine.run(program())
        value = "comp" if "comp" in state.columns else "label"
        return sorted(state.select("id", value).collect()), ctx

    on_demand_rows, on_demand = run(None)
    every_rows, every = run(True)
    assert on_demand_rows == every_rows
    assert len(on_demand.stats) == len(every.stats)
    assert on_demand.active_vertices == 0
    assert on_demand.messages_sent == 0 == every.messages_sent
    # every superstep but the quiescent ones skipped its count job
    assert any(s["messages_sent"] < 0 for s in on_demand.stats)
    g.unpersist()


# Jobs a 5-superstep pagerank fires on the PageRank/WCC fixture (local[4],
# 4 shuffle partitions), measured; it repeats exactly for a fixed input.
PAGERANK_5_STEP_JOBS = 36


def _sql_graph(spark):
    """The PageRank/WCC fixture built from SQL literals: no Python-evaluated
    RDD in its lineage, so any such stage below comes from the loop."""
    edges = ", ".join(f"({s}L, {d}L)" for s, d in PRWCC_EDGES)
    ids = ", ".join(f"({v}L)" for v in PRWCC_VERTEX_IDS)
    return Graph(
        spark.sql(f"SELECT * FROM VALUES {ids} AS t(id)"),
        spark.sql(f"SELECT * FROM VALUES {edges} AS t(src, dst)"),
        num_partitions=4,
    ).cache()


def test_pagerank_superstep_job_budget(spark, monkeypatch):
    """A 5-superstep pagerank fires at most the measured job count + 1
    per superstep, and no stage evaluates Python: the aggregator scalars
    ride the plan as literals, not as a one-row Python-built frame."""
    monkeypatch.setattr(local, "LOCAL_EDGES", 0)  # BspEngine, not the driver kernel
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    graph_of = spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    g = _sql_graph(spark)
    g.num_vertices()
    g.edges.count()
    steps = 5
    group = "test-pagerank-job-budget"
    sc.setJobGroup(group, "pagerank job budget")
    try:
        pagerank(g, max_supersteps=steps, l1_threshold=0.0).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc.listenerBus().waitUntilEmpty(60_000)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    assert len(job_ids) <= PAGERANK_5_STEP_JOBS + steps, len(job_ids)
    for job_id in job_ids:
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            # a stage the store no longer holds did not run here: the
            # store drops skipped stages first once it is full
            if tracker.getStageInfo(stage_id) is None:
                continue
            dot = graph_of.makeDotFile(store.operationGraphForStage(stage_id))
            assert "PythonRDD" not in dot, f"job {job_id} evaluates Python"
    g.unpersist()
