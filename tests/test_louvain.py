from tests.conftest import make_graph
from tests.oracles import random_graph

from incubator_hugegraph_computer_spark.operators.louvain import louvain
from incubator_hugegraph_computer_spark.operators.stats import modularity


def _clique(members):
    return [(a, b) for a in members for b in members if a < b]


def test_louvain_two_cliques(spark):
    """Two 4-cliques joined by a single bridge → exactly the two cliques."""
    edges = _clique([0, 1, 2, 3]) + _clique([10, 11, 12, 13]) + [(3, 10)]
    ids = [0, 1, 2, 3, 10, 11, 12, 13]
    g = make_graph(spark, edges, vertex_ids=ids)
    got = {r["id"]: r["community"] for r in louvain(g).collect()}
    assert got[0] == got[1] == got[2] == got[3]
    assert got[10] == got[11] == got[12] == got[13]
    assert got[0] != got[10]


def test_louvain_improves_modularity(spark):
    edges = (
        _clique([0, 1, 2, 3, 4])
        + _clique([10, 11, 12, 13])
        + _clique([20, 21, 22])
        + [(4, 10), (13, 20)]
    )
    ids = sorted({v for e in edges for v in e})
    g = make_graph(spark, edges, vertex_ids=ids)
    comm = louvain(g).withColumnRenamed("community", "comp")
    q = modularity(g, comm, label_col="comp").first()["modularity"]
    assert q > 0.4  # three dense blocks → strongly modular partition
    # deterministic across runs
    a = sorted(map(tuple, louvain(g).collect()))
    b = sorted(map(tuple, louvain(g).collect()))
    assert a == b


def test_louvain_runs_on_random_graph(spark):
    edges = random_graph(40, 120, seed=17)
    g = make_graph(spark, edges, vertex_ids=range(40))
    got = louvain(g).collect()
    assert len(got) == 40  # every vertex assigned


def test_louvain_weighted_changes_partition(spark):
    """4-cycle with heavy (0,1) and (2,3) edges: the weighted variant
    must pair heavy endpoints; unweighted modularity on a 4-cycle cannot
    distinguish pairings."""
    from incubator_hugegraph_computer_spark.graph import Graph

    edges = spark.createDataFrame(
        [(0, 1, 10.0), (1, 2, 1.0), (2, 3, 10.0), (3, 0, 1.0)],
        "src long, dst long, weight double",
    )
    verts = spark.createDataFrame([(v,) for v in range(4)], "id long")
    g = Graph(verts, edges, num_partitions=4)
    got = {r["id"]: r["community"] for r in louvain(g, weight_col="weight").collect()}
    assert got[0] == got[1]
    assert got[2] == got[3]
    assert got[0] != got[2]


def test_louvain_shuffle_planned_matches_broadcast(spark, monkeypatch):
    """With ``_BCAST_V = 0`` every V-row join of the move phase takes
    Spark's shuffle planning, the path levels above the broadcast bound
    run at scale. Its assignments must be hash-identical to the default
    broadcast path on a graph whose move phase needs several steps."""
    import incubator_hugegraph_computer_spark.operators.louvain as L
    from incubator_hugegraph_computer_spark.graph import Graph

    # a ring of six 5-cliques: move counts cool over the inner steps
    rows = []
    for c in range(6):  # 6 cliques of 5
        base = c * 5
        for i in range(5):
            for j in range(i + 1, 5):
                rows.append((base + i, base + j))
        rows.append((base + 4, ((c + 1) % 6) * 5))  # ring bridges
    edges = spark.createDataFrame(rows, "src long, dst long")
    g = Graph.from_edges(edges, num_partitions=4)

    bcast = {(r["id"], r["community"]) for r in L.louvain(g, max_levels=3, max_inner=6).collect()}

    monkeypatch.setattr(L, "_BCAST_V", 0)
    shuffled = {(r["id"], r["community"]) for r in L.louvain(g, max_levels=3, max_inner=6).collect()}
    assert shuffled == bcast
