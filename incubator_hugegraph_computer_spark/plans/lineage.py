"""Per-round lineage discipline for driver-loop iterative operators.

The BSP engine (``plans/bsp.py``) truncates each superstep's lineage
with a LAZY ``localCheckpoint`` and RELEASES the previous round's
blocks. Chaining EAGER ``localCheckpoint`` calls
instead — which several standalone operator loops originally did —
accumulates driver-side state that was measured to double per-round
wall time from roughly round 16 on local[4]/4g and to OOM the driver
near round 60, even on a 5-row DataFrame. Small fixed budgets (≤ 8
rounds) never feel it; user-raised budgets do.

``advance(prev, new)`` is that discipline as a function: returns the
materialized new state and frees the previous one. Use it for every
round-parameterized DataFrame loop outside the BSP engine.
:func:`release` frees a round's state, checkpoint blocks included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release(df: DataFrame) -> None:
    """Free what ``df`` stores: its cache entry and, when ``df`` is a
    ``localCheckpoint``, the checkpoint blocks, which ``unpersist()``
    leaves to the JVM garbage collector. Call it only once every
    consumer of ``df`` has materialized."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def advance(prev: DataFrame | None, new: DataFrame) -> DataFrame:
    """Materialize ``new`` with truncated lineage, release ``prev``."""
    out = new.localCheckpoint(eager=False).persist()
    out.count()
    if prev is not None:
        prev.unpersist()
    return out


def advance_counted(prev: DataFrame | None, new: DataFrame) -> tuple[DataFrame, int]:
    """:func:`advance` that also returns the row count of the new state.

    Frontier-style loops terminate on "frontier empty" — since
    materializing already runs a count job, returning it lets the loop
    drop its separate ``isEmpty()`` action (one action per round instead
    of two)."""
    out = new.localCheckpoint(eager=False).persist()
    n = out.count()
    if prev is not None:
        prev.unpersist()
    return out, n


def advance_agg(prev, new, *exprs):
    """:func:`advance` whose materializing action is an aggregation:
    returns ``(out, row)`` where ``row`` is ``out.agg(*exprs).first()``.
    Lets a loop read its convergence scalars off the same job that
    materializes the round's state — one action per barrier."""
    out = new.localCheckpoint(eager=False).persist()
    row = out.agg(*exprs).first()
    if prev is not None:
        prev.unpersist()
    return out, row
