"""The BSP superstep loop as a driver-side iteration over DataFrames.

Reference control flow being re-expressed (SURVEY.md §3.1):
``MasterService.execute`` (computer-core/.../master/MasterService.java:195-297)
barriers workers through etcd each superstep; workers compute per
partition and push messages through a sort-combine-netty-merge pipeline.
On Spark the whole structure collapses:

- barrier            → a Spark action per superstep (materialize state)
- message transport  → the shuffle of ``groupBy(dst).agg(combiner)``
  (map-side partial agg == the reference's sender-side combining,
  ``SortManager.java:180-215``; reduce-side merge == shuffle read)
- aggregators        → driver-side scalars, folded into ONE agg action
  per superstep together with the active-vertex count
- vote-to-halt       → an ``active`` boolean column + frontier pruning
- termination        → stop if program says stop, OR superstep >= max,
  OR (no messages AND no active vertices) — the exact rule of
  ``MasterService.finishedIteration`` (MasterService.java:350-361)

A program supplies the Computation/MasterComputation surface
(``computer-api/.../worker/Computation.java:50-64``,
``master/MasterComputation.java``):

    initial_state(graph)                  -> state DF    (compute0)
    messages(state, graph, ctx)           -> msg DF (dst, ...)   (sendMessage*)
    combine(messages)                     -> inbox DF (id, ...)  (Combiner)
    update(state, inbox, ctx)             -> state' DF   (compute)
    agg_exprs(ctx)                        -> {name: Column}      (Aggregator4Master;
                                             evaluated over state' in one pass)
    halt(ctx)                             -> bool         (master compute)

State DataFrames must carry ``id`` and may carry ``active``; everything
else is program-defined columns.

Per-superstep cost: one aggregator action over the new state, which is
the barrier — it materializes the state into its lazy ``localCheckpoint``
(the one stored copy, lineage truncated) and computes every aggregator
plus the active count. Under AQE the action's shuffle stages run as
their own jobs, so a PageRank superstep measures ~6 Spark jobs
(local[4], 80k edges). The previous state's checkpoint blocks are
released once the new state has materialized. The combined inbox is
counted (one more job) only when something reads the count: a durable
CheckpointManager is attached (metrics.jsonl), the caller asks for it,
or no vertex is active — the one case the termination rule reads it.

Schedule: ``BspEngine(stride=k)`` runs up to ``k`` supersteps per
barrier, for any program; the default ``k = 1`` is one superstep per
barrier. The barrier's first superstep reads the previous barrier's
aggregators as literals. Each later one reads the state of the
superstep before it, stored once (``SuperstepContext.persist``) for its
several consumers inside the one action, and that state's
``agg_exprs`` computed in-plan: a one-row aggregate broadcast-
crossJoined onto the state, so ``update`` sees ``ctx.prev_aggs`` as
``Column``s there and must use them as column arithmetic. Fused
intermediates are released as soon as the barrier has materialized.
``ctx.superstep`` and ``max_supersteps`` count supersteps, not
barriers, under every stride: the last barrier runs only the
supersteps the budget has left, and ``halt`` and the termination rule
are read at barriers. The fixed per-barrier cost (planning, scheduling,
the aggregator collect) is what a stride divides; BENCH.md measured
PageRank stride 2 ~35% faster at 2.5M edges and WCC stride 4 as the
scaling-protocol win, while deeper PageRank strides, whose every hop
adds a broadcast scalar subquery, measured slower.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.checkpoint import CheckpointManager
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release

# Default superstep budget mirrors bsp.max_super_step=10
# (computer-api/.../config/ComputerOptions.java:521-528).
DEFAULT_MAX_SUPERSTEPS = 10


@dataclass
class SuperstepContext:
    """What the master sees between supersteps
    (``MasterComputationContext.java:32-57``): counts + named aggregators.
    ``aggs`` holds the current superstep's values, ``prev_aggs`` the
    previous one's (programs read *previous* values, as workers do via
    ``beforeSuperstep``)."""

    superstep: int = 0
    num_vertices: int = 0
    active_vertices: int = 0
    messages_sent: int = 0
    shuffle_read_bytes: int = -1
    shuffle_write_bytes: int = -1
    aggs: dict[str, Any] = field(default_factory=dict)
    prev_aggs: dict[str, Any] = field(default_factory=dict)
    stats: list[dict[str, Any]] = field(default_factory=list)
    intermediates: list[DataFrame] = field(default_factory=list, repr=False)

    def persist(self, df: DataFrame) -> DataFrame:
        """``df`` stored for the barrier being built, where it feeds
        several consumers inside one action; the engine releases it once
        that barrier has materialized."""
        df = df.persist()
        self.intermediates.append(df)
        return df

    def release_intermediates(self) -> None:
        for df in self.intermediates:
            df.unpersist()
        self.intermediates.clear()


def shuffle_bytes_since(spark, after_stage_id: int = -1) -> tuple[int, int, int | None]:
    """(shuffle_read_bytes, shuffle_write_bytes, max_stage_id) summed
    over stages with ``stageId > after_stage_id``, from the live
    AppStatusStore. The BSP driver watermarks the latest stage id at
    superstep start and charges the superstep every stage submitted
    after it — the reference's per-superstep transport counters
    (``WorkerStat`` / ``MessageStat`` in computer-core). Summing *new*
    stages (not diffing two cumulative totals) stays correct when the
    status store evicts old stages (spark.ui.retainedStages), which
    would make a cumulative diff go negative in long sessions. Returns
    (-1, -1, None) if the py4j surface is unavailable (e.g. Spark
    Connect); the engine then skips that superstep's counters."""
    try:
        jvm = spark._jvm
        store = spark._jsparkSession.sparkContext().statusStore()
        empty = jvm.java.util.ArrayList()
        no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        stages = store.stageList(empty, False, False, no_quantiles, empty)
        read = write = 0
        max_id = -1
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid > max_id:
                max_id = sid
            if sid > after_stage_id:
                read += s.shuffleReadBytes()
                write += s.shuffleWriteBytes()
        return read, write, max_id
    except Exception:  # pragma: no cover - Connect / API drift fallback
        return -1, -1, None


class BspProgram:
    name = "bsp"

    def initial_state(self, graph: Graph) -> DataFrame:
        raise NotImplementedError

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        raise NotImplementedError

    def combine(self, messages: DataFrame) -> DataFrame:
        raise NotImplementedError

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        raise NotImplementedError

    def agg_exprs(self, ctx: SuperstepContext) -> dict[str, Column]:
        """Named aggregator expressions evaluated over the new state."""
        return {}

    def halt(self, ctx: SuperstepContext) -> bool:
        return False


class ReduceProgram(BspProgram):
    """Template mirroring ``ReduceComputation``
    (computer-api/.../worker/ReduceComputation.java:30-75): all messages
    to a vertex are combined into ONE value (``reduce_agg``), and the
    vertex folds that single value into its state (``merge``). Subclass
    provides three expressions instead of the full program surface:

        message_col(ctx)  -> Column over (state ⋈ edges src side)
        reduce_agg(col)   -> aggregate Column (the Combiner)
        merge(state, inbox, ctx) -> state' DataFrame (compute with the
                                    already-combined single message)
    """

    value_col = "value"

    def message_col(self, ctx: SuperstepContext) -> Column:
        raise NotImplementedError

    def reduce_agg(self, col: Column) -> Column:
        raise NotImplementedError

    def merge(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        raise NotImplementedError

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        frontier = F.col("active") if "active" in state.columns else None
        return message_pass(state, graph, self.message_col(ctx), frontier_filter=frontier)

    def combine(self, messages: DataFrame) -> DataFrame:
        return messages.groupBy(F.col("dst").alias("id")).agg(
            self.reduce_agg(F.col("msg")).alias("msg")
        )

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        return self.merge(state, inbox, ctx)


class FilterProgram(ReduceProgram):
    """Template mirroring ``FilterComputation``
    (computer-api/.../worker/FilterComputation.java:34-110): messages
    pass a per-message predicate (``keep``), vertices inactivate by
    default each superstep (vote-to-halt) and only reactivate when a
    kept message arrives."""

    def keep(self, msg: Column) -> Column:
        return F.lit(True)

    def combine(self, messages: DataFrame) -> DataFrame:
        kept = messages.where(self.keep(F.col("msg")))
        return kept.groupBy(F.col("dst").alias("id")).agg(
            self.reduce_agg(F.col("msg")).alias("msg")
        )


class BspEngine:
    """Runs a ``BspProgram`` to its termination rule or ``max_supersteps``.

    ``stride`` is the number of supersteps fused into one barrier (module
    docstring, "Schedule"). With a ``checkpoint_dir``, only barrier states
    are stored: a barrier is checkpointed, under the number of its last
    superstep, when any superstep it runs is a multiple of
    ``checkpoint_every``, and resume continues from the superstep after
    the latest one stored. Shuffle counters are kept exactly when a
    ``checkpoint_dir`` is given, since only then is the metrics row
    persisted. The engine caches the graph for the run and releases it
    afterwards if the caller had not cached it."""

    def __init__(
        self,
        graph: Graph,
        max_supersteps: int = DEFAULT_MAX_SUPERSTEPS,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 1,
        run_id: str | None = None,
        count_messages: bool | None = None,
        checkpoint_messages: bool = False,
        stride: int = 1,
    ):
        self.graph = graph
        self.max_supersteps = max_supersteps
        self.stride = max(1, stride)
        # Also snapshot the combined inbox each checkpointed superstep
        # (SnapshotManager snapshots message files alongside vertex
        # state) — lets step k's update be REPLAYED from load(k-1) +
        # load_messages(k). Opt-in: one extra write job per superstep.
        # Under stride > 1 it is the barrier's last superstep's inbox.
        self.checkpoint_messages = checkpoint_messages
        # messages_sent costs one job per counted barrier. None (the
        # default) counts only when it is read: every barrier of a
        # checkpointed run (metrics.jsonl), and any barrier that ends
        # with no active vertex (the termination rule's no-messages
        # half). True counts every barrier; False never does, and the
        # run then halts on the active count alone. The count is of the
        # barrier's last superstep's inbox.
        self.count_messages = count_messages
        self.ckpt = (
            CheckpointManager(checkpoint_dir, run_id or uuid.uuid4().hex, checkpoint_every)
            if checkpoint_dir
            else None
        )

    # ------------------------------------------------------------------
    def _barrier(self, program: BspProgram, new: DataFrame, ctx: SuperstepContext) -> DataFrame:
        """The BSP barrier: one action stores ``new`` (lineage
        truncated) and computes the aggregators + active count over it."""
        exprs = dict(program.agg_exprs(ctx))
        if "active" in new.columns:
            exprs["__active"] = F.sum(F.col("active").cast("long"))
        else:
            exprs["__active"] = F.count(F.lit(1))
        state, row = barrier(None, new, *[c.alias(n) for n, c in exprs.items()])
        ctx.active_vertices = int(row["__active"] or 0)
        ctx.aggs = {n: row[n] for n in exprs if n != "__active"}
        return state

    def run(self, program: BspProgram, resume: bool = False) -> tuple[DataFrame, SuperstepContext]:
        cached = self.graph.is_cached
        ctx = SuperstepContext()
        try:
            return self._run(program, self.graph.cache(), ctx, resume), ctx
        finally:
            ctx.release_intermediates()
            if not cached:
                self.graph.unpersist()

    def _run(
        self, program: BspProgram, g: Graph, ctx: SuperstepContext, resume: bool
    ) -> DataFrame:
        ctx.num_vertices = g.num_vertices()
        count_every_step = self.count_messages or (
            self.count_messages is None and self.ckpt is not None
        )

        start_step = 0
        state: DataFrame | None = None
        if resume and self.ckpt is not None:
            latest = self.ckpt.latest_complete()
            if latest is not None:
                state, ctx.aggs = self.ckpt.load(g.spark, latest)
                start_step = latest + 1
        if state is None:
            state = self._barrier(program, program.initial_state(g), ctx)
            if self.ckpt is not None and self.ckpt.should_checkpoint(0):
                self.ckpt.save(0, state, ctx.aggs, self._metrics(ctx, wall_ms=0))
            start_step = 1

        step = start_step
        while step <= self.max_supersteps:
            last = min(step + self.stride - 1, self.max_supersteps)
            t0 = time.monotonic()
            stage_mark = (
                shuffle_bytes_since(g.spark, after_stage_id=2**62)[2]
                if self.ckpt is not None
                else -1
            )
            ctx.prev_aggs = ctx.aggs
            ctx.messages_sent = -1
            cur = state
            for hop in range(step, last + 1):
                scalars = None
                if hop > step:
                    # a fused superstep: the previous one's state feeds
                    # its aggregators, the message pass and the update
                    cur = ctx.persist(cur)
                    exprs = program.agg_exprs(ctx)
                    if exprs:
                        scalars = cur.agg(*[c.alias(f"__agg_{n}") for n, c in exprs.items()])
                    ctx.prev_aggs = {n: F.col(f"__agg_{n}") for n in exprs}
                ctx.superstep = hop
                inbox = program.combine(program.messages(cur, g, ctx))
                if count_every_step and hop == last:
                    # counted up front so the update job reuses the cache
                    inbox = ctx.persist(inbox)
                    ctx.messages_sent = inbox.count()
                if scalars is None:
                    cur = program.update(cur, inbox, ctx)
                else:
                    cur = program.update(cur.crossJoin(F.broadcast(scalars)), inbox, ctx)
                    cur = cur.drop(*[c for c in scalars.columns if c in cur.columns])

            # The barrier's lazy local checkpoint is the barrier's one
            # stored copy: its aggregator action materializes it AND
            # truncates lineage in a single job. Without truncation each
            # superstep's plan nests the previous one's and Catalyst
            # re-analysis blows up 5-10x by step 4 (SURVEY §7 hard parts).
            # ``state`` and the fused intermediates are released below,
            # after the inbox recount and the checkpoint write.
            new_state = self._barrier(program, cur, ctx)
            if ctx.active_vertices == 0 and ctx.messages_sent < 0 and self.count_messages is None:
                # recomputes the inbox from what the barrier read, so
                # before its release
                ctx.messages_sent = inbox.count()

            if self.ckpt is not None and stage_mark is not None:
                read, write, _ = shuffle_bytes_since(g.spark, stage_mark)
                ctx.shuffle_read_bytes = read
                ctx.shuffle_write_bytes = write
            wall_ms = int((time.monotonic() - t0) * 1000)
            if self.ckpt is not None and any(
                self.ckpt.should_checkpoint(s) for s in range(step, last + 1)
            ):
                self.ckpt.save(
                    last,
                    new_state,
                    ctx.aggs,
                    self._metrics(ctx, wall_ms),
                    messages=inbox if self.checkpoint_messages else None,
                )

            release(state)
            ctx.release_intermediates()
            state = new_state
            ctx.stats.append(self._metrics(ctx, wall_ms))

            # Termination rule of MasterService.finishedIteration.
            if program.halt(ctx):
                break
            if ctx.active_vertices == 0 and ctx.messages_sent <= 0:
                break
            step = last + 1
        return state

    @staticmethod
    def _metrics(ctx: SuperstepContext, wall_ms: int) -> dict[str, Any]:
        return {
            "messages_sent": ctx.messages_sent,
            "active_vertices": ctx.active_vertices,
            "shuffle_read_bytes": ctx.shuffle_read_bytes,
            "shuffle_write_bytes": ctx.shuffle_write_bytes,
            "wall_ms": wall_ms,
            "aggregators": {k: v for k, v in ctx.aggs.items()},
        }


def message_pass(
    state: DataFrame,
    graph: Graph,
    msg_col,
    frontier_filter=None,
) -> DataFrame:
    """``sendMessageToAllEdges`` (ComputationContext.java:44-54) as the
    canonical join-aggregate pass: join vertex state to its out-edges on
    ``src`` (co-partitioned), emit (dst, msg). ``msg_col`` is a Column
    over the source-side state row and the edge row (so it may read an
    edge weight). ``frontier_filter`` prunes inactive vertices *before*
    the join — the reference's inactive-vertex skipping
    (``FileGraphPartition.java:213-222``).

    Physical shape (deliberate, verified via .explain):
    - the join is hinted SHUFFLE_HASH with the state as build side — a
      sort-merge join would re-sort the E-row edge side every superstep
    - the downstream groupBy(dst) partial-aggregates map-side, so
      shuffle volume is bounded by distinct targets per partition, not E

    This is the only message path: it runs over the plain hash
    partition of ``Graph.edges`` with no skew handling beyond AQE, like
    the reference (``HashPartitioner.java:41-44``). CSR-packed and
    hub-salted passes measured no faster on R-MAT graphs (BENCH.md
    round 4).
    """
    src_state = state if frontier_filter is None else state.where(frontier_filter)
    src_state = src_state.withColumnRenamed("id", "src").hint("shuffle_hash")
    return src_state.join(graph.edges, "src").select(F.col("dst"), msg_col.alias("msg"))
