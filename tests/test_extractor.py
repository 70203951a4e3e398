import hashlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.sources.extractor import (
    build_catalog,
    extract_edges,
    verify_sha256,
)
from incubator_hugegraph_computer_spark.sources.repo_files import (
    expected_degrees_and_targets,
    generate_repo_files,
)

V = 200


@pytest.fixture(scope="module")
def files(spark):
    return generate_repo_files(spark, V, num_repos=4, seed=42).persist()


def test_generator_deterministic_and_complete(spark, files):
    assert files.count() == V
    assert files.select("path").distinct().count() == V
    # independent of partitioning
    again = generate_repo_files(spark, V, num_repos=4, seed=42, num_partitions=7)
    a = sorted(files.select("path", "content").collect())
    b = sorted(again.select("path", "content").collect())
    assert a == b


def test_sha256_matches_hashlib(spark, files):
    sample = files.limit(20).select("content", "sha256").collect()
    for r in sample:
        assert hashlib.sha256(r["content"].encode("utf-8")).hexdigest() == r["sha256"]


def test_sha256_verification_detects_corruption(spark, files):
    verify_sha256(files).count()  # clean table passes
    corrupted = files.withColumn(
        "content",
        F.when(F.col("file_idx") == 3, F.concat(F.col("content"), F.lit("X"))).otherwise(
            F.col("content")
        ),
    )
    with pytest.raises(ValueError, match="sha256 mismatch on 1 rows"):
        verify_sha256(corrupted).count()


def test_extract_edges_blocks_corrupt_input(spark, files):
    """The stored scan's sha-ok flag counts a changed content, a NULL
    content and a NULL stored hash as corrupt, and raises before any
    edge is built; ``verify=False`` skips the check."""
    idx = F.col("file_idx")
    corrupted = files.withColumn(
        "content",
        F.when(idx == 3, F.concat(F.col("content"), F.lit("X")))
        .when(idx == 5, F.lit(None))
        .otherwise(F.col("content")),
    ).withColumn("sha256", F.when(idx == 8, F.lit(None)).otherwise(F.col("sha256")))
    with pytest.raises(ValueError, match="sha256 mismatch on 3 rows"):
        extract_edges(corrupted, verify=True)
    _, edges = extract_edges(corrupted, verify=False)
    assert edges.count() > 0


def _python_stages_run(spark, group):
    """Stages of ``group``'s jobs that ran tasks through a Python
    evaluator (a skipped stage reused a shuffle and ran nothing)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    graph_of = spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    tracker = sc.statusTracker()
    found = []
    for job_id in tracker.getJobIdsForGroup(group):
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            info = tracker.getStageInfo(stage_id)
            if info is None or info.numCompletedTasks == 0:
                continue
            dot = graph_of.makeDotFile(store.operationGraphForStage(stage_id))
            if re.search(r'label="(\w*Python\w*|\w*InPandas|PythonRDD)', dot):
                found.append(stage_id)
    return found


def test_ingest_scans_the_source_once(spark):
    """Ingest plus the graph build and its counts run the source plan
    (the generator and the reference extraction) in exactly one stage:
    every later job reads the stored scan or the stored mint."""
    fresh = generate_repo_files(spark, V, num_repos=4, seed=11)
    sc = spark.sparkContext
    group = "test-ingest-single-scan"
    sc.setJobGroup(group, "ingest single scan")
    try:
        vertices, edges = extract_edges(fresh, verify=True)
        g = Graph(vertices.select("id"), edges).cache()
        assert g.num_vertices() == V
        assert g.num_edges() > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(_python_stages_run(spark, group)) == 1
    g.unpersist()


def test_minted_ids_are_the_sort_rank(spark, files):
    """Dense ids are the (repo, path) rank, across the several range
    partitions the mint counts its offsets over."""
    assert spark.sparkContext.defaultParallelism > 1
    vertices, _ = extract_edges(files, verify=False)
    rows = sorted(vertices.collect(), key=lambda r: r["id"])
    assert [r["id"] for r in rows] == list(range(V))
    assert [(r["repo"], r["path"]) for r in rows] == sorted((r["repo"], r["path"]) for r in rows)
    catalog = build_catalog(files).collect()
    assert {(r["id"], r["repo"], r["path"]) for r in catalog} == {tuple(r) for r in rows}


def test_extracted_edges_match_closed_form(spark, files):
    """The pandas-UDF extraction recovers exactly the synthesized graph."""
    vertices, edges = extract_edges(files, verify=True)
    # map engine ids back to generator file_idx through the catalog module
    catalog = build_catalog(files)
    idx_of = {
        r["id"]: int(r["module"].split("_")[1]) for r in catalog.collect()
    }
    got = {(idx_of[r["src"]], idx_of[r["dst"]]) for r in edges.collect()}

    _, src, dst = expected_degrees_and_targets(np.arange(V), V, seed=42)
    want = {(int(s), int(d)) for s, d in zip(src, dst) if s != d}
    assert got == want
    assert vertices.count() == V


def test_catalog_dense_ids(spark, files):
    catalog = build_catalog(files, dense_ids=True)
    ids = [r["id"] for r in catalog.select("id").collect()]
    assert sorted(ids) == list(range(V))


def test_catalog_hash_ids_unique(spark, files):
    catalog = build_catalog(files, dense_ids=False)
    assert catalog.select("id").distinct().count() == V


def test_graph_has_power_law_structure(spark, files):
    """Sanity: hubs exist (power-law out-degrees) and some
    files are dangling."""
    _, edges = extract_edges(files, verify=False)
    outdeg = edges.groupBy("src").count()
    assert outdeg.agg(F.max("count")).first()[0] >= 10
    n_with_out = outdeg.count()
    assert n_with_out < V  # dangling files exist


@pytest.mark.parametrize("vectorized", ["true", "false"])
def test_orders_graph_reads_int32_columns(spark, tmp_path, vectorized):
    """``orders_graph`` declares its two columns as longs: an orders file
    with int32 keys gives the same graph as one with int64 keys, under
    both Parquet readers, and an extra column is not read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_hugegraph_computer_spark.sources.tpch_graph import DST_MOD, orders_graph

    rng = np.random.default_rng(5)
    orderkey = rng.integers(0, 50_000, 400)
    custkey = rng.integers(0, 1500, 400)
    graphs = {}
    for t in (pa.int32(), pa.int64()):
        d = tmp_path / str(t)
        d.mkdir()
        pq.write_table(
            pa.table({
                "o_orderkey": pa.array(orderkey, t),
                "o_custkey": pa.array(custkey, t),
                "o_comment": pa.array(["x"] * len(orderkey)),
            }),
            d / "orders.parquet",
        )
        spark.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
        try:
            g = orders_graph(spark, str(d))
            graphs[str(t)] = (
                sorted(map(tuple, g.edges.collect())),
                sorted(r["id"] for r in g.vertices.collect()),
                [f.dataType.simpleString() for f in g.edges.schema],
            )
        finally:
            spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    want = sorted({(int(c), int(o) % DST_MOD) for o, c in zip(orderkey, custkey)
                   if c != o % DST_MOD})
    assert graphs["int32"] == graphs["int64"]
    assert graphs["int64"][0] == want
    assert graphs["int64"][2] == ["bigint", "bigint"]
