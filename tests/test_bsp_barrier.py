"""Barrier invariants of the BSP superstep: what a run leaves stored,
when it counts messages, and how many Spark jobs a superstep costs."""

import pytest

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.pagerank import pagerank
from incubator_hugegraph_computer_spark.operators.wcc import WccProgram, wcc
from incubator_hugegraph_computer_spark.plans.bsp import BspEngine
from tests.conftest import PRWCC_EDGES, PRWCC_VERTEX_IDS, make_graph
from tests.test_templates import CappedMaxLabel, _components_graph


def persisted_rdds_added(spark, fn):
    """``(fn(), ids)``: run ``fn`` and return the ids of the RDDs it
    left persisted (RDD blocks of caches and local checkpoints alike)."""
    jsc = spark.sparkContext._jsc

    def snapshot():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    before = snapshot()
    out = fn()
    return out, snapshot() - before


@pytest.fixture()
def prwcc(spark):
    g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS).cache()
    g.num_vertices()
    g.edges.count()  # the graph's own caches exist before any snapshot
    return g


def test_pagerank_leaves_only_its_state(spark, prwcc):
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


def test_pagerank_superstep_job_budget(spark):
    """A 5-superstep pagerank fires at most the measured job count + 1
    per superstep, and no stage evaluates Python: the aggregator scalars
    ride the plan as literals, not as a one-row Python-built frame."""
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
