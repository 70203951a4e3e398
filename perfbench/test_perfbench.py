"""Tests of the benchmark's own plumbing.

    python3 -m pytest perfbench -q

The Spark tests share one local session; the file takes about a minute
on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import run
import tracing
from tracing import Tracer, union_ms


# ------------------------------------------------------------ pure
def test_union_merges_overlapping_and_nested_intervals():
    # [0,10] and [5,15] overlap, [6,7] nests inside, [20,25] is apart
    assert union_ms([(0, 10), (5, 15), (6, 7), (20, 25)], 0, 100) == 20


def test_union_clips_to_the_span_and_ignores_empty_intervals():
    assert union_ms([(-5, 5), (8, 8), (9, 30)], 0, 10) == 6
    assert union_ms([], 0, 10) == 0


def test_union_is_order_independent():
    ivs = [(3, 9), (0, 4), (12, 14), (8, 13)]
    assert union_ms(ivs, 0, 20) == union_ms(list(reversed(ivs)), 0, 20) == 14


def test_timing_reports_a_tail_percentile_only_with_ten_samples_beyond():
    assert set(run.timing([1.0] * 19, "s")) == {"median", "n", "unit"}
    out = run.timing([float(i) for i in range(100)], "s")
    assert out["n"] == 100 and out["p90"] == 90.0


def test_peak_rss_reset_drops_memory_given_back():
    pids = [os.getpid()]
    block = bytearray(200 * 2**20)
    block[:: 4096] = b"x" * len(block[:: 4096])  # touch every page
    del block
    high = run.peak_rss_mb(pids)
    run.reset_peak_rss(pids)
    assert run.peak_rss_mb(pids) < high - 100


def test_refuses_to_run_without_the_engine(tmp_path):
    """Next to BENCHMARK.json alone the benchmark exits non-zero and
    prints no result."""
    shutil.copytree(os.path.dirname(os.path.abspath(__file__)), tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "barrier_loops",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# ------------------------------------------------------------ spark
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("perfbench"))
    run.prepare_env(run_dir)
    host = {"nproc": 2, "driver_memory": "1g"}
    s = run.new_session(host, run_dir)
    yield s
    run.stop_spark(s)


def test_job_groups_do_not_leak_between_spans(spark):
    from pyspark.sql import functions as F

    tracer = Tracer(spark, enabled=True)
    df = spark.range(2000).withColumn("k", F.col("id") % 7)

    tracer.span("a", lambda: df.groupBy("k").count().collect())
    spark.range(10).count()  # outside any span
    tracer.span("b", lambda: [df.distinct().count() for _ in range(2)])

    reader = tracer.reader
    reader.drain()
    groups = {name: f"{tracer.prefix}-{i}-{name}" for i, name in enumerate(("a", "b"), 1)}
    ids = {name: set(reader.job_ids(g)) for name, g in groups.items()}
    assert ids["a"] and ids["b"] and not ids["a"] & ids["b"]
    for name, group in groups.items():
        assert all(reader.job(j)["group"] == group for j in ids[name])
        assert tracer.calls[name][0]["jobs"] == len(ids[name])
    # the action between the spans belongs to neither
    assert max(ids["a"]) < min(ids["b"]) - 1
    for name in groups:
        c = tracer.calls[name][0]
        assert c["tasks"] > 0 and c["shuffle_write_bytes"] > 0
        assert 0 <= c["driver_gap_ms"] <= c["wall_ms"] + 1


def _ingest_and_rank(spark, tracer, seed):
    from incubator_hugegraph_computer_spark.graph import Graph
    from incubator_hugegraph_computer_spark.operators.pagerank import pagerank
    from incubator_hugegraph_computer_spark.sources.extractor import extract_edges
    from incubator_hugegraph_computer_spark.sources.repo_files import generate_repo_files

    files = generate_repo_files(spark, 200, seed=seed)
    vertices, edges = tracer.span("sources.extract_edges",
                                  lambda: extract_edges(files, verify=True))

    def build():
        g = Graph(vertices.select("id"), edges).cache()
        g.num_edges()
        return g

    g = tracer.span("graph.build", build)
    tracer.span("operators.pagerank", lambda: pagerank(g, max_supersteps=3).collect())
    g.unpersist()


def test_a_second_tracer_does_not_see_the_first_ones_jobs(spark):
    first, second = Tracer(spark, enabled=True), Tracer(spark, enabled=True)
    for tracer in (first, second):
        tracer.span("a", lambda: spark.range(100).distinct().count())
    assert first.calls["a"][0]["jobs"] == second.calls["a"][0]["jobs"] > 0


def test_counts_repeat_for_a_fixed_seed(spark):
    """Job, task and shuffle-byte counts of a span repeat exactly when the
    same seed is run twice in one session. ``cached_added`` does not: the
    context cleaner drops unreferenced RDDs whenever the JVM collects
    them, which can fall inside a span."""
    tracer = Tracer(spark, enabled=True)
    _ingest_and_rank(spark, tracer, seed=5)
    _ingest_and_rank(spark, tracer, seed=5)
    for span in ("sources.extract_edges", "graph.build", "operators.pagerank"):
        first, second = tracer.calls[span]
        for counter in ("jobs", "tasks", "shuffle_write_bytes"):
            assert first[counter] == second[counter], (span, counter)
    assert set(tracing.SPAN_COUNTERS) == set(tracer.calls["graph.build"][0])


def test_benchmark_json_lists_the_metrics_the_run_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    per_layer = {f"{s}.{c}": u for s in run.SPANS for c, u in tracing.SPAN_COUNTERS.items()}
    per_layer.update(run.RUN_COUNTERS)
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == per_layer
    assert {m["name"] for m in doc["end_to_end"]} == set(run.E2E_UNITS)
    assert {w["name"] for w in doc["workloads"]} == set(run.WORKLOADS)
