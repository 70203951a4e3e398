"""Build layering, coupling metrics, change-impact — hand-checked fixtures."""

import pytest
from pyspark.sql import functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.code_graph import (
    build_layers,
    coupling_metrics,
    critical_path,
    impact_set,
)

# A budget-truncated layering warns; no fixture here may trip it.
pytestmark = pytest.mark.filterwarnings("error:.*hit max_depth")


def _g(spark, edges):
    return Graph.from_edges(
        spark.createDataFrame(edges, "src long, dst long"), num_partitions=4
    )


def test_build_layers_dag_and_cycle(spark):
    # 1->2->3, 3<->4 (cycle), 3->5; 6 isolated-ish source -> 2
    g = _g(spark, [(1, 2), (2, 3), (3, 4), (4, 3), (3, 5), (6, 2)])
    rows = {r["id"]: (r["scc"], r["layer"]) for r in build_layers(g).collect()}
    # SCC {3,4} labeled 3 (min member)
    assert rows[3][0] == 3 and rows[4][0] == 3
    # layers: sources 1,6 at 0; 2 at 1; {3,4} at 2; 5 at 3
    assert rows[1][1] == 0 and rows[6][1] == 0
    assert rows[2][1] == 1
    assert rows[3][1] == 2 and rows[4][1] == 2
    assert rows[5][1] == 3


def test_build_layers_longest_path_wins(spark):
    # 1->4 direct AND 1->2->3->4: layer(4) must be 3, not 1
    g = _g(spark, [(1, 4), (1, 2), (2, 3), (3, 4)])
    rows = {r["id"]: r["layer"] for r in build_layers(g).collect()}
    assert rows[4] == 3


def test_critical_path_weighted_schedule(spark):
    """PERT over the condensation: cycle builds as one unit (summed
    cost), est = max finish over dependency chains, and a heavier long
    chain must beat a shorter direct edge."""
    # costs (id%7)+1: 1->2, 2->3, 3->4, 4->5, 5->6
    # cycle {1,2} (cost 2+3=5) -> 3 (4) -> 4 (5); also 1->4 direct;
    # 5 isolated (cost 6)
    g = Graph(
        spark.createDataFrame([(i,) for i in range(1, 6)], "id long"),
        spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 4), (1, 4)], "src long, dst long"
        ),
        num_partitions=4,
    )
    rows = {r["id"]: (r["scc"], r["est"], r["finish"]) for r in critical_path(g).collect()}
    assert rows[1] == (1, 0, 5) and rows[2] == (1, 0, 5)  # cycle, summed cost
    assert rows[3] == (3, 5, 9)          # starts after the cycle
    assert rows[4] == (4, 9, 14)         # chain (9) beats direct edge (5)
    assert rows[5] == (5, 0, 6)          # no deps: est 0


@pytest.mark.parametrize("run", [build_layers, critical_path], ids=lambda f: f.__name__)
def test_longest_path_budget_warns(spark, run):
    """A condensation chain deeper than ``max_depth`` warns with the count
    of components still active; a budget that covers it does not."""
    g = _g(spark, [(i, i + 1) for i in range(6)])
    with pytest.warns(UserWarning, match=r"hit max_depth=3 with \d+ components still active"):
        run(g, max_depth=3).collect()
    rows = run(g, max_depth=7).collect()
    assert len(rows) == 7


def test_coupling_metrics(spark):
    g = _g(spark, [(1, 2), (1, 3), (2, 3), (3, 1)])
    rows = {r["id"]: r for r in coupling_metrics(g).collect()}
    # vertex 1: ca=1 (from 3), ce=2 (to 2,3) -> I = 2/3
    assert rows[1]["ca"] == 1 and rows[1]["ce"] == 2
    assert abs(rows[1]["instability"] - round(2 / 3, 6)) < 1e-9
    # vertex 3: ca=2, ce=1 -> I = 1/3
    assert rows[3]["ca"] == 2 and rows[3]["ce"] == 1
    assert abs(rows[3]["instability"] - round(1 / 3, 6)) < 1e-9


def test_impact_set_counts_and_depth(spark):
    # chain 1->2->3->4->5: impact of 5 at depth 2 = {3,4} -> 2
    g = _g(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = g.vertices.where(F.col("id").isin(5, 1)).select("id")
    rows = {r["seed"]: r["impacted"] for r in impact_set(g, seeds, max_depth=2).collect()}
    assert rows[5] == 2  # 3 and 4
    assert rows[1] == 0  # nothing depends on the root


def test_impact_set_cycle_terminates(spark):
    g = _g(spark, [(1, 2), (2, 1), (3, 1)])
    seeds = g.vertices.where(F.col("id") == 1).select("id")
    rows = impact_set(g, seeds, max_depth=10).collect()
    assert rows[0]["impacted"] == 2  # 2 and 3 reach 1


def test_transitive_reduction2(spark):
    from conftest import make_graph
    from incubator_hugegraph_computer_spark.operators.code_graph import (
        transitive_reduction2,
    )

    # 0->1->2 plus the shortcut 0->2 (redundant) and unrelated 3->4
    g = make_graph(spark, [(0, 1), (1, 2), (0, 2), (3, 4)], vertex_ids=range(5))
    out = {(r["src"], r["dst"]): r["redundant"]
           for r in transitive_reduction2(g).collect()}
    assert out == {(0, 1): False, (1, 2): False, (0, 2): True, (3, 4): False}
