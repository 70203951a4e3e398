"""Driver kernels for graphs, or tails of loops, small enough to hold.

A Spark round costs a handful of jobs whatever its size, so on a small
graph every round is fixed cost. Two kinds of loop finish here instead,
over dense numpy arrays indexed by position in the sorted vertex ids.
This is how Vermeer, the reference's in-memory sibling, holds a graph
(SURVEY §1.1).

- Min-label loops whose live edge set shrinks: ``scc`` and
  ``wcc_contract`` read their live edge count off the barrier that ends
  each round. At or below :data:`LOCAL_EDGES` they stop and pull the
  live vertices and edges with Arrow ``toPandas()``. A numpy-CSR kernel
  labels them here, and the labels go back as a frame for the loop's
  answer. Labels are min member ids, the same contract as the Spark
  path, so the answer does not depend on where the switch happens.
- The PageRank family (``pagerank``, ``pagerank_classic``,
  ``pagerank_weighted``): a graph with at most :data:`LOCAL_EDGES`
  vertices and edges runs all its supersteps in :func:`pagerank`. The
  kernel calls the program's own ``rank`` update and ``halt`` rule, the
  ones BspEngine calls, so the two executors share every formula.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.bsp import SuperstepContext

# Live edges (and, for scc and PageRank, vertices) at or below which a
# loop runs on the driver. The measured Spark-vs-driver crossover of
# scc, wcc_contract and PageRank lies above 2^20 edges on both graph
# families tried (PLANS.md "Driver-finished tails"), so the cap is the
# driver budget: at 1M edges and 1M vertices the pulled frames and the
# Tarjan kernel peak at ~240 MB of Python heap.
LOCAL_EDGES = 1_000_000


def fits(graph: Graph) -> bool:
    """Whether ``graph`` (cached) has at most :data:`LOCAL_EDGES`
    vertices and at most as many edges. The cached graph keeps both
    counts, so BspEngine and the caller read them without a new job."""
    return graph.num_vertices() <= LOCAL_EDGES and graph.num_edges() <= LOCAL_EDGES


def pagerank(
    graph: Graph, program, max_supersteps: int
) -> tuple[DataFrame, SuperstepContext]:
    """``BspEngine(graph, max_supersteps).run(program)`` for a PageRank
    program, on the driver: the (id, rank) frame and the context it
    halted with. ``program`` supplies ``rank`` (the update formula),
    ``halt``, ``initial_ranks`` and ``weight_col``.

    The semantics are the Spark path's. ``n`` is the number of vertex
    rows. A vertex's out-degree counts every edge it is the ``src`` of,
    and a message reaches only a ``dst`` that is a vertex, so mass sent
    to a non-vertex is lost. A vertex id listed k times is k state rows:
    it sends and is summed k times. A null weight sends nothing, as
    ``F.sum`` skips it. The output frame lives in the driver; it holds
    no stored copy."""
    vids = graph.vertices.select("id").toPandas()["id"].to_numpy()
    n = len(vids)
    ids, row_of, mult = np.unique(vids, return_inverse=True, return_counts=True)
    w = program.weight_col
    weight = [F.coalesce(F.col(w).cast("double"), F.lit(0.0)).alias("w")] if w else []
    e = graph.edges.select("src", "dst", *weight).toPandas()
    src = _lookup(ids, e["src"].to_numpy())
    dst = _lookup(ids, e["dst"].to_numpy())
    out_deg = np.bincount(src[src >= 0], minlength=len(ids))
    send = (src >= 0) & (dst >= 0)
    src, dst = src[send], dst[send]
    factor = mult[src] * (e["w"].to_numpy()[send] if w else 1.0)

    rank = np.full(len(ids), 1.0 / n)
    if program.initial_ranks is not None:
        seed = program.initial_ranks.select(
            "id", F.col("rank").cast("double")
        ).toPandas()
        at, r = _lookup(ids, seed["id"].to_numpy()), seed["rank"].to_numpy()
        known = (at >= 0) & ~np.isnan(r)
        rank[at[known]] = r[known]

    dangling = out_deg == 0
    deg = np.maximum(out_deg, 1)

    def aggs(new: np.ndarray, old: np.ndarray) -> dict[str, float]:
        return {
            "cum": float(mult @ new),
            "dangling": float(mult[dangling] @ new[dangling]),
            "l1": float(mult @ np.abs(new - old)),
        }

    ctx = SuperstepContext(num_vertices=n)
    ctx.aggs = aggs(rank, rank)
    for step in range(1, max_supersteps + 1):
        ctx.superstep, ctx.prev_aggs = step, ctx.aggs
        msg = np.bincount(dst, weights=(rank / deg)[src] * factor, minlength=len(ids))
        new = program.rank(msg, ctx.prev_aggs["dangling"], ctx.prev_aggs["cum"], n)
        ctx.aggs = aggs(new, rank)
        rank = new
        if program.halt(ctx):
            break
    out = _frame(graph.vertices, "id", {"id": vids, "rank": rank[row_of]}, rank=DoubleType())
    return out, ctx


def scc_labels(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """(id, scc) for ``vertices`` (an ``id`` frame), scc = min member id
    of the strongly connected component in the subgraph of ``edges``
    (``src``, ``dst``) induced by ``vertices``: an edge with an endpoint
    outside ``vertices`` is ignored, as the Spark path ignores it."""
    ids = np.unique(vertices.select("id").toPandas()["id"].to_numpy())
    e = edges.select("src", "dst").toPandas()
    src, dst = _induced(ids, e["src"].to_numpy(), e["dst"].to_numpy())
    labels = ids[_tarjan_min(len(ids), src, dst)]
    return _frame(vertices, "id", {"id": ids, "scc": labels})


def wcc_labels(edges: DataFrame) -> DataFrame:
    """(id, comp) for every endpoint of ``edges`` (``a``, ``b``), comp =
    min id of its weakly connected component."""
    e = edges.select("a", "b").toPandas()
    ends = np.concatenate([e["a"].to_numpy(), e["b"].to_numpy()])
    ids, inv = np.unique(ends, return_inverse=True)
    labels = ids[_union_find_min(len(ids), inv[: len(e)], inv[len(e) :])]
    return _frame(edges, "a", {"id": ids, "comp": labels})


def _frame(like: DataFrame, id_col: str, cols: dict[str, np.ndarray], **types) -> DataFrame:
    """``cols`` as a frame whose columns take ``like[id_col]``'s type, the
    type the Spark path's ids and labels have, unless ``types`` names
    another."""
    t = like.schema[id_col].dataType
    schema = StructType([StructField(c, types.get(c, t)) for c in cols])
    return like.sparkSession.createDataFrame(pd.DataFrame(cols), schema)


def _induced(
    ids: np.ndarray, src: np.ndarray, dst: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Edges with both endpoints in the sorted ``ids``, as indexes into it."""
    si, di = _lookup(ids, src), _lookup(ids, dst)
    keep = (si >= 0) & (di >= 0)
    return si[keep], di[keep]


def _lookup(ids: np.ndarray, values: np.ndarray) -> np.ndarray:
    """The index of each of ``values`` in the sorted ``ids``, -1 where
    it is not there."""
    if len(ids) == 0:
        return np.full(len(values), -1, np.int64)
    at = np.minimum(np.searchsorted(ids, values), len(ids) - 1)
    return np.where(ids[at] == values, at, -1)


def _tarjan_min(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Per vertex index, the min vertex index of its strongly connected
    component: Tarjan's algorithm with an explicit stack over CSR arrays.
    The walk runs on Python lists: indexing them is several times cheaper
    than indexing numpy arrays one element at a time."""
    order = np.argsort(src, kind="stable")
    indptr = np.zeros(n + 1, np.int64)
    np.cumsum(np.bincount(src, minlength=n), out=indptr[1:])
    start = indptr.tolist()
    targets = dst[order].tolist()
    index = [-1] * n
    low = [0] * n
    on_stack = [False] * n
    label = list(range(n))
    stack: list[int] = []
    counter = 0
    for root in range(n):
        if index[root] != -1:
            continue
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on_stack[root] = True
        work = [(root, start[root])]
        while work:
            v, i = work[-1]
            end = start[v + 1]
            while i < end:
                w = targets[i]
                i += 1
                if index[w] == -1:
                    work[-1] = (v, i)
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack[w] = True
                    work.append((w, start[w]))
                    break
                if on_stack[w] and index[w] < low[v]:
                    low[v] = index[w]
            else:
                work.pop()
                if work:
                    u = work[-1][0]
                    if low[v] < low[u]:
                        low[u] = low[v]
                if low[v] == index[v]:
                    k = len(stack) - 1
                    while stack[k] != v:
                        k -= 1
                    members = stack[k:]
                    del stack[k:]
                    m = min(members)
                    for w in members:
                        on_stack[w] = False
                        label[w] = m
    return np.asarray(label, np.int64)


def _union_find_min(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per vertex index, the min vertex index of its connected component:
    vectorized union-find. Each pass hooks every edge's larger root under
    its smaller one, then compresses paths until every parent is a root."""
    parent = np.arange(n, dtype=np.int64)
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return parent
        ra, rb = ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
        a, b = a[live], b[live]
