"""Resume-from-checkpoint equivalence (FIXTURES.md §7): interrupt a run
after superstep k, resume with the same run_id, final output must equal
an uninterrupted run's. Mirrors the reference snapshot semantics
(SnapshotManager.java:143-205)."""

import pytest

from tests.conftest import PRWCC_EDGES, PRWCC_VERTEX_IDS, make_graph

from incubator_hugegraph_computer_spark.operators.pagerank import pagerank
from incubator_hugegraph_computer_spark.operators.wcc import wcc
from incubator_hugegraph_computer_spark.plans.checkpoint import CheckpointManager


def _rank_dict(df):
    return {r["id"]: round(r["rank"], 12) for r in df.collect()}


# State checkpoints have one backend, parquet with directory
# partitioning; the "dir" id keeps the name test histories know the
# one-superstep-per-barrier case by. The stride case interrupts inside
# the fused schedule, so its checkpoint keys must count supersteps.
@pytest.mark.parametrize(
    "schedule",
    [pytest.param({}, id="dir"), pytest.param({"method": "stride", "stride": 2}, id="stride2")],
)
def test_pagerank_resume_equivalence(spark, tmp_path, schedule):
    g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS)
    full = _rank_dict(
        pagerank(
            g, checkpoint_dir=str(tmp_path / "full"), run_id="full", max_supersteps=8,
            **schedule,
        )
    )
    # interrupted run: budget of 3 supersteps, then resume to completion
    pagerank(
        g, checkpoint_dir=str(tmp_path / "resumed"), run_id="r1", max_supersteps=3,
        **schedule,
    )
    assert CheckpointManager(str(tmp_path / "resumed"), "r1").latest_complete() == 3
    resumed = _rank_dict(
        pagerank(
            g,
            checkpoint_dir=str(tmp_path / "resumed"),
            run_id="r1",
            max_supersteps=8,
            resume=True,
            **schedule,
        )
    )
    assert resumed == full


@pytest.mark.parametrize("removed", ["wcc_shortcut", "checkpoint_table", "job_flags"])
def test_removed_options_fail_loudly(spark, tmp_path, removed):
    """Retired physical methods and the table checkpoint backend are
    rejected, not silently ignored or swallowed by ``**engine_kwargs``."""
    if removed == "wcc_shortcut":
        g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS)
        with pytest.raises(ValueError) as err:
            wcc(g, method="shortcut")
        for method in ("propagate", "stride", "contract"):
            assert repr(method) in str(err.value)
    elif removed == "checkpoint_table":
        g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS)
        with pytest.raises(TypeError, match="checkpoint_table"):
            pagerank(g, checkpoint_dir=str(tmp_path / "c"), checkpoint_table="t")
    else:
        from incubator_hugegraph_computer_spark.job import build_parser

        base = ["--algorithm", "wcc", "--generate", "10", "--output", str(tmp_path / "o")]
        build_parser().parse_args(base)  # the base command line is valid
        for extra in (["--wcc-method", "shortcut"], ["--checkpoint-table", "t"]):
            with pytest.raises(SystemExit):
                build_parser().parse_args(base + extra)


def test_wcc_resume_equivalence(spark, tmp_path):
    g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS)
    full = {r["id"]: r["comp"] for r in wcc(g).collect()}
    wcc(g, checkpoint_dir=str(tmp_path / "w"), run_id="w1", max_supersteps=1)
    resumed = {
        r["id"]: r["comp"]
        for r in wcc(
            g, checkpoint_dir=str(tmp_path / "w"), run_id="w1", max_supersteps=50, resume=True
        ).collect()
    }
    assert resumed == full


def test_metrics_recorded(spark, tmp_path):
    g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS)
    pagerank(g, checkpoint_dir=str(tmp_path / "m"), run_id="m1", max_supersteps=4)
    ck = CheckpointManager(str(tmp_path / "m"), "m1")
    rows = ck.metrics()
    assert len(rows) >= 4
    for row in rows[1:]:
        assert row["run_id"] == "m1"
        assert row["messages_sent"] > 0
        assert row["active_vertices"] >= 0
        assert row["bytes_checkpointed"] > 0
        assert "aggregators" in row
        # north-star counters: per-superstep shuffle volume from the
        # AppStatusStore, per-partition lineage from parquet footers
        assert row["shuffle_read_bytes"] > 0
        assert row["shuffle_write_bytes"] > 0
        assert len(row["partitions"]) >= 1
        assert sum(p["rows"] for p in row["partitions"]) == len(PRWCC_VERTEX_IDS)
        assert all(p["bytes"] > 0 for p in row["partitions"])


def test_sssp_paths_resume_equivalence(spark, tmp_path):
    """The path-carrying SSSP state (dist double + path array<long>) must
    round-trip the durable checkpoint: interrupt after 2 supersteps,
    resume, outputs equal an uninterrupted run (incl. the path arrays
    and the reached-target aggregator)."""
    from pyspark.sql import functions as F

    from incubator_hugegraph_computer_spark.graph import Graph
    from incubator_hugegraph_computer_spark.operators.sssp import sssp_paths

    edges = spark.createDataFrame(
        [(s, d) for s, d in PRWCC_EDGES], "src long, dst long"
    ).withColumn("weight", ((F.col("src") + F.col("dst")) % 3 + 1).cast("double"))
    verts = spark.createDataFrame([(v,) for v in PRWCC_VERTEX_IDS], "id long")
    g = Graph(verts, edges, num_partitions=4)

    def as_dict(df):
        return {r["id"]: (r["dist"], tuple(r["path"])) for r in df.collect()}

    full = as_dict(sssp_paths(g, source=0, weight_col="weight", max_supersteps=20))
    sssp_paths(
        g, source=0, weight_col="weight", max_supersteps=2,
        checkpoint_dir=str(tmp_path / "sp"), run_id="sp1",
    )
    resumed = as_dict(
        sssp_paths(
            g, source=0, weight_col="weight", max_supersteps=20,
            checkpoint_dir=str(tmp_path / "sp"), run_id="sp1", resume=True,
        )
    )
    assert resumed == full


def test_message_checkpoint_replay(spark, tmp_path):
    """checkpoint_messages=True snapshots the combined inbox alongside
    state (SnapshotManager.java snapshots message files per partition):
    replaying update(load(k-1).state, load_messages(k)) must reproduce
    load(k).state exactly."""
    from incubator_hugegraph_computer_spark.operators.pagerank import PageRankProgram
    from incubator_hugegraph_computer_spark.plans.bsp import BspEngine, SuperstepContext

    g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS).cache()
    eng = BspEngine(
        g, max_supersteps=4, checkpoint_dir=str(tmp_path / "mc"), run_id="mc1",
        checkpoint_messages=True,
    )
    prog = PageRankProgram()
    eng.run(prog)
    ck = CheckpointManager(str(tmp_path / "mc"), "mc1")
    k = 3
    prev_state, prev_aggs = ck.load(spark, k - 1)
    inbox = ck.load_messages(spark, k)
    assert inbox is not None and inbox.count() > 0
    ctx = SuperstepContext(num_vertices=g.num_vertices(), superstep=k)
    ctx.prev_aggs = prev_aggs
    replayed = {r["id"]: round(r["rank"], 12) for r in prog.update(prev_state, inbox, ctx).collect()}
    saved_state, _ = ck.load(spark, k)
    saved = {r["id"]: round(r["rank"], 12) for r in saved_state.collect()}
    assert replayed == saved
