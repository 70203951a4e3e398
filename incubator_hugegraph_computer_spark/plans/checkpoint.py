"""Per-superstep checkpoint + resume with lineage and counters.

Mirrors the reference's snapshot semantics
(``computer-core/.../snapshot/SnapshotManager.java:54-246``: per-partition
vertex/edge/message snapshots to object storage) and its per-superstep
status/value files (``FileGraphPartition.java:286-313``): a superstep is
durable iff its state files, aggregator values and metrics row are all
committed.

State is parquet with directory partitioning — the reference
likewise snapshots to files (SnapshotManager):

    <root>/<run_id>/superstep=<k>/state/*.parquet    (+ partition lineage col)
    <root>/<run_id>/superstep=<k>/messages/*.parquet (optional inbox snapshot)
    <root>/<run_id>/superstep=<k>/aggs.json          (aggregators, atomic rename)
    <root>/<run_id>/metrics.jsonl                    (one row per superstep)

``aggs.json`` is written last and atomically — its presence marks the
superstep complete (the commit point), so a kill mid-write never yields
a half-checkpoint that resume would trust.

ALL sidecar IO (markers, metrics, lineage listing, cleanup) goes through
the Hadoop FS of the checkpoint root's scheme (``fsutil``) — the state
parquet is written by Spark to that filesystem, so driver-local
``os``/``open`` would split the commit protocol across two filesystems
the moment the root is ``hdfs://``/``s3a://`` (empty lineage, markers on
one driver's local disk, stale-state resumes).
"""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from incubator_hugegraph_computer_spark import fsutil


class CheckpointManager:
    def __init__(
        self,
        root: str,
        run_id: str,
        every: int = 1,
        spark: SparkSession | None = None,
    ):
        self.root = root
        self.run_id = run_id
        self.every = max(1, every)
        self.run_dir = fsutil.join(root, run_id)
        self._spark = spark

    def _sp(self) -> SparkSession:
        if self._spark is None:
            self._spark = SparkSession.getActiveSession()
            if self._spark is None:
                raise RuntimeError("CheckpointManager needs an active SparkSession")
        return self._spark

    def _fs(self, d: str):
        return fsutil.hadoop_fs(self._sp(), d)

    # ------------------------------------------------------------ paths
    def _step_dir(self, superstep: int) -> str:
        return fsutil.join(self.run_dir, f"superstep={superstep}")

    def _aggs_path(self, superstep: int) -> str:
        return fsutil.join(self._step_dir(superstep), "aggs.json")

    # ------------------------------------------------------------ write
    def should_checkpoint(self, superstep: int) -> bool:
        return superstep % self.every == 0

    def save(
        self,
        superstep: int,
        state: DataFrame,
        aggregators: dict[str, Any],
        metrics: dict[str, Any] | None = None,
        messages: DataFrame | None = None,
    ) -> DataFrame:
        """Persist state + aggs + metrics; return the re-read state (which
        truncates the iterative plan's lineage — the Spark analogue of the
        reference's write-next-superstep-files-then-swap at
        ``FileGraphPartition.java:367-409``)."""
        step_dir = self._step_dir(superstep)
        state_dir = fsutil.join(step_dir, "state")
        fs, step_p = self._fs(step_dir)
        if fs.exists(step_p):
            fs.delete(step_p, True)  # re-running a step overwrites a partial attempt
        (
            state.withColumn("partition_id", F.spark_partition_id())
            .write.mode("overwrite")
            .parquet(state_dir)
        )
        if messages is not None:
            # the combined inbox this superstep's update consumed —
            # SnapshotManager also snapshots message files per
            # partition; replaying step k = load(k-1).state + these
            (
                messages.withColumn("partition_id", F.spark_partition_id())
                .write.mode("overwrite")
                .parquet(fsutil.join(step_dir, "messages"))
            )
        # Per-partition lineage from the written files (driver-side FS
        # listing, no extra Spark job): one part-file per write task, so
        # each checkpoint records which partition wrote how many state
        # rows / bytes — SnapshotManager's per-partition snapshot
        # manifest. Row counts come from the parquet footer when the
        # file is locally readable; on remote filesystems the byte sizes
        # (from FileStatus) are always exact and rows are -1.
        partition_lineage = []
        bytes_written = 0
        sfs, state_p = self._fs(state_dir)
        files = []
        it = sfs.listFiles(state_p, True)
        while it.hasNext():
            files.append(it.next())
        for st in sorted(files, key=lambda s: s.getPath().getName()):
            name = st.getPath().getName()
            size = st.getLen()
            bytes_written += size
            if name.endswith(".parquet"):
                n_rows = -1
                uri = st.getPath().toUri()
                if uri.getScheme() in (None, "file"):
                    try:
                        import pyarrow.parquet as pq

                        n_rows = pq.ParquetFile(uri.getPath()).metadata.num_rows
                    except Exception:
                        n_rows = -1
                partition_lineage.append({"file": name, "rows": n_rows, "bytes": size})
        if metrics is not None:
            row = {
                "run_id": self.run_id,
                "superstep": superstep,
                "bytes_checkpointed": bytes_written,
                "partitions": partition_lineage,
                "ts": time.time(),
                **metrics,
            }
            mpath = fsutil.join(self.run_dir, "metrics.jsonl")
            try:
                existing = [
                    ln
                    for ln in fsutil.read_text(self._sp(), mpath).splitlines()
                    if ln.strip()
                ]
            except FileNotFoundError:
                existing = []
            # a crashed-and-retried superstep REPLACES its earlier metrics
            # row — an append would double-count bytes/wall time for that
            # step in anything aggregating the log
            existing = [
                ln for ln in existing if json.loads(ln).get("superstep") != superstep
            ]
            fsutil.write_text(
                self._sp(), mpath, "\n".join(existing + [json.dumps(row)]) + "\n"
            )
        # Commit point: aggs.json written atomically last (tmp + rename;
        # a crash anywhere before the rename leaves the step uncommitted).
        tmp = self._aggs_path(superstep) + ".tmp"
        fsutil.write_text(
            self._sp(), tmp, json.dumps({"superstep": superstep, "aggregators": aggregators})
        )
        afs, dst = self._fs(self._aggs_path(superstep))
        if afs.exists(dst):
            afs.delete(dst, False)
        _, tmp_p = self._fs(tmp)
        afs.rename(tmp_p, dst)
        return state.sparkSession.read.parquet(state_dir).drop("partition_id")

    # ------------------------------------------------------------- read
    def latest_complete(self) -> int | None:
        """Highest superstep whose commit marker exists, else None."""
        fs, run_p = self._fs(self.run_dir)
        if not fs.exists(run_p):
            return None
        best = None
        for st in fs.listStatus(run_p):
            name = st.getPath().getName()
            if name.startswith("superstep="):
                k = int(name.split("=", 1)[1])
                afs, aggs_p = self._fs(self._aggs_path(k))
                if afs.exists(aggs_p) and (best is None or k > best):
                    best = k
        return best

    def load_messages(self, spark: SparkSession, superstep: int) -> DataFrame | None:
        """The combined inbox consumed by ``superstep``'s update, if it
        was checkpointed (engine ``checkpoint_messages=True``)."""
        path = fsutil.join(self._step_dir(superstep), "messages")
        fs, p = self._fs(path)
        if not fs.exists(p):
            return None
        return spark.read.parquet(path).drop("partition_id")

    def load(self, spark: SparkSession, superstep: int) -> tuple[DataFrame, dict[str, Any]]:
        aggs = json.loads(fsutil.read_text(spark, self._aggs_path(superstep)))[
            "aggregators"
        ]
        state = spark.read.parquet(fsutil.join(self._step_dir(superstep), "state")).drop(
            "partition_id"
        )
        return state, aggs

    def metrics(self) -> list[dict[str, Any]]:
        try:
            text = fsutil.read_text(
                self._sp(), fsutil.join(self.run_dir, "metrics.jsonl")
            )
        except FileNotFoundError:
            return []
        return [json.loads(line) for line in text.splitlines() if line.strip()]
