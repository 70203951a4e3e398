"""Streaming graph ingest — incremental WCC and warm-start PageRank
maintenance per edge batch.

The reference is batch-only (SURVEY §2.9); this is the Spark-native
extension the north star's "incremental graph ingest" implies: edge
batches (a crawl shard's new import/dependency edges) arrive on a
stream, and the weakly-connected-component labeling is MAINTAINED via
``operators.wcc.wcc_incremental`` — per batch a contraction graph of
O(|batch|) edges, never a rescan of the accumulated edge set.

Physical/consistency shape (same recipe as ``streaming/dedup.py``'s
near-dup stream): ``foreachBatch`` runs micro-batches sequentially;
each batch writes the updated FULL label table to a per-batch
subdirectory (mode=overwrite, so an at-least-once replay of a
half-written attempt replaces it byte-for-byte) and creates a marker
file LAST, so readers only ever see committed label sets and a replay
of a committed batch is a no-op. Compute per batch is O(|delta|); the
label PERSISTENCE is one V-row write — the production refinement
(journal only the tiny comp→comp mapping + fresh vertices, compact
every K batches) trades that write for read-side join depth and drops
in behind the same markers.

Parity contract (tested): after draining the stream, the maintained
labels equal ``wcc`` recomputed on the union of all edge batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from incubator_hugegraph_computer_spark.streaming.dedup import (
    _committed_batches,
    _mark_committed,
)


def read_components(spark: SparkSession, labels_dir: str) -> DataFrame:
    """The latest committed (id, comp) labeling — labels are cumulative,
    so the highest committed batch holds the full table."""
    done = _committed_batches(spark, labels_dir + "_committed")
    if not done:
        raise FileNotFoundError(f"no committed label batches under {labels_dir}")
    return spark.read.parquet(f"{labels_dir}/batch-{max(done)}")


def read_ranks(spark: SparkSession, ranks_dir: str) -> DataFrame:
    """The latest committed (id, rank) table of the PageRank stream."""
    done = _committed_batches(spark, ranks_dir + "_committed")
    if not done:
        raise FileNotFoundError(f"no committed rank batches under {ranks_dir}")
    return spark.read.parquet(f"{ranks_dir}/batch-{max(done)}")


def run_pagerank_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    ranks_dir: str,
    edges_dir: str,
    damping: float = 0.85,
    tol: float = 1e-9,
    max_iterations: int = 100,
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain PageRank over a parquet edge stream: per micro-batch,
    append the batch's edges to a cumulative per-batch edge store, then
    re-rank WARM-STARTED from the previous batch's committed ranks
    (``pagerank_classic`` ``initial_ranks``) to ``tol`` convergence.

    What incrementality buys here is SUPERSTEPS, not scan: PageRank is
    a global fixed point, so each re-rank necessarily propagates over
    the accumulated edge set — but from a near-converged seed the L1
    residual starts at the perturbation the delta introduced, not at
    O(1), so convergence takes a handful of supersteps instead of ~100
    (test_pagerank_warm_start pins ≤3 from a converged seed). At scale
    the accumulated edges live in the bucketed graph store
    (``sources/graph_store.py``) so the per-re-rank scan is
    shuffle-free; here each batch is one parquet dir and the union read
    is re-planned per batch.

    Accumulated edges are DEDUPLICATED across batches (a re-crawled
    link is not a new edge — duplicate edges would inflate out-degrees
    and shift the fixed point). Commit protocol identical to
    ``run_wcc_stream``: ranks land in ``<ranks_dir>/batch-N``
    (overwrite-idempotent), marker written LAST; a replay of a
    committed batch is a no-op. Parity contract (tested): after
    draining, the maintained ranks equal a cold-start ``pagerank_classic``
    on the distinct union of all batches to ~tol."""
    from incubator_hugegraph_computer_spark.graph import Graph
    from incubator_hugegraph_computer_spark.operators.pagerank import pagerank_classic

    schema = spark.read.parquet(source_dir).schema
    markers_dir = ranks_dir + "_committed"

    def process(batch: DataFrame, batch_id: int) -> None:
        done = _committed_batches(spark, markers_dir)
        if batch_id in done:
            return  # replay of a fully-committed batch: no-op
        # edge store first: overwrite-idempotent, so a replay of a
        # half-committed attempt rewrites it byte-for-byte
        batch.select("src", "dst").where("src <> dst").write.mode(
            "overwrite"
        ).parquet(f"{edges_dir}/batch-{batch_id}")
        paths = [f"{edges_dir}/batch-{i}" for i in sorted(set(done) | {batch_id})]
        edges = spark.read.parquet(*paths).distinct()
        warm = (
            spark.read.parquet(f"{ranks_dir}/batch-{max(done)}") if done else None
        )
        ranks = pagerank_classic(
            Graph.from_edges(edges),
            damping=damping,
            max_iterations=max_iterations,
            tol=tol,
            initial_ranks=warm,
        )
        ranks.write.mode("overwrite").parquet(f"{ranks_dir}/batch-{batch_id}")
        _mark_committed(spark, markers_dir, batch_id)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_wcc_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    labels_dir: str,
    max_files_per_trigger: int = 1,
    **wcc_kwargs,
) -> None:
    """Drive incremental WCC over a parquet edge stream (src, dst) with
    AvailableNow; one file per micro-batch → arrival order = file
    modification-time order (FileStreamSource ordering — producers
    stamp monotone mtimes, as the dedup stream documents)."""
    from incubator_hugegraph_computer_spark.graph import Graph
    from incubator_hugegraph_computer_spark.operators.wcc import wcc, wcc_incremental

    schema = spark.read.parquet(source_dir).schema
    markers_dir = labels_dir + "_committed"
    wcc_kwargs.setdefault("count_messages", False)

    def process(batch: DataFrame, batch_id: int) -> None:
        done = _committed_batches(spark, markers_dir)
        if batch_id in done:
            return  # replay of a fully-committed batch: no-op
        edges = batch.select("src", "dst")
        if done:
            prev = spark.read.parquet(f"{labels_dir}/batch-{max(done)}")
            labels = wcc_incremental(prev, edges, **wcc_kwargs)
        else:
            labels = wcc(Graph.from_edges(edges), **wcc_kwargs)
        labels.write.mode("overwrite").parquet(f"{labels_dir}/batch-{batch_id}")
        _mark_committed(spark, markers_dir, batch_id)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
