"""Per-round lineage discipline for iterative operators: one barrier.

Every iterative loop — the BSP engine (``plans/bsp.py``) and each
standalone operator loop — ends a round with :func:`barrier`: the new
state becomes a LAZY ``localCheckpoint`` (the round's one stored copy,
lineage truncated), one aggregate action materializes it and reads the
round's convergence scalars, and the previous round's state is then
released, checkpoint blocks included. Chaining EAGER
``localCheckpoint`` calls instead — which several standalone operator
loops originally did — accumulates driver-side state that was measured
to double per-round wall time from roughly round 16 on local[4]/4g and
to OOM the driver near round 60, even on a 5-row DataFrame.

Releasing ``prev`` frees its blocks, so no frame that still lazily
reads ``prev`` may outlive the barrier: pass ``prev=None`` (and
:func:`release` it later) when one does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, functions as F


def release(df: DataFrame) -> None:
    """Free what ``df`` stores: its cache entry and, when ``df`` is a
    ``localCheckpoint``, the checkpoint blocks, which ``unpersist()``
    leaves to the JVM garbage collector. Call it only once every
    consumer of ``df`` has materialized."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def barrier(
    prev: DataFrame | None, new: DataFrame, *aggs: Column
) -> tuple[DataFrame, Row]:
    """Store ``new`` once with truncated lineage and release ``prev``.

    Returns ``(out, row)``: ``row`` is ``out.agg(*aggs).first()``, the
    action that materializes ``out`` — the row count ``(n,)`` when no
    ``aggs`` are given — so a loop reads its convergence scalars off the
    same job that ends its round."""
    out = _unsized(new.localCheckpoint(eager=False))
    row = out.agg(*(aggs or (F.count(F.lit(1)),))).first()
    if prev is not None:
        release(prev)
    return out, row


def _unsized(df: DataFrame) -> DataFrame:
    """``df``, a checkpoint, without the size estimate it inherits from
    the plan it was cut from.

    Joins multiply size estimates, so a loop whose round reads its state
    k times multiplies the estimate's digit count by k per round: at 25
    rounds of ``ppr_push`` (k = 2) the optimizer spends minutes on the
    arithmetic alone. Unsized, the checkpoint reads as any scan of
    unknown size (``spark.sql.defaultSizeInBytes``) and adaptive query
    execution sizes its joins at run time."""
    spark = df.sparkSession
    plan = df._jdf.queryExecution().logical()
    none = spark._jvm.scala.Option.apply(None)
    plan = plan.copy(
        plan.output(),
        plan.rdd(),
        plan.outputPartitioning(),
        plan.outputOrdering(),
        plan.isStreaming(),
        plan.stream(),
        spark._jsparkSession,
        none,  # the origin plan's size estimate
        none,  # the origin plan's constraints
    )
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, plan)
    return DataFrame(jdf, spark)
