"""Driver finish for min-label loops whose live edge set shrinks.

A Spark round costs a handful of jobs whatever its size, so once a
loop's live graph is small the rounds left are all fixed cost. ``scc``
and ``wcc_contract`` read their live edge count off the barrier that
ends each round; at or below :data:`LOCAL_EDGES` they stop, pull the
live vertices and edges with Arrow ``toPandas()``, label them here with
a numpy-CSR kernel and hand the labels back as a frame for the loop's
answer. Labels are min member ids, the same contract as the
Spark path, so the answer does not depend on where the switch happens.
This is how Vermeer, the reference's in-memory sibling, holds a graph:
dense arrays over vertex indexes (SURVEY §1.1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

# Live edges (and, for scc, live vertices) at or below which a loop
# finishes on the driver. The measured Spark-vs-driver crossover of scc
# and wcc_contract lies above 2^20 edges on both graph families tried
# (PLANS.md "Driver-finished tails"), so the cap is the driver budget:
# at 1M edges and 1M vertices the pulled frames and the Tarjan kernel
# peak at ~240 MB of Python heap.
LOCAL_EDGES = 1_000_000


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


def _frame(like: DataFrame, id_col: str, cols: dict[str, np.ndarray]) -> DataFrame:
    """``cols`` as a frame whose columns all take ``like[id_col]``'s type,
    the type the Spark path's labels have."""
    t = like.schema[id_col].dataType
    schema = StructType([StructField(c, t) for c in cols])
    return like.sparkSession.createDataFrame(pd.DataFrame(cols), schema)


def _induced(
    ids: np.ndarray, src: np.ndarray, dst: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Edges with both endpoints in the sorted ``ids``, as indexes into it."""
    n = len(ids)
    si = np.searchsorted(ids, src)
    di = np.searchsorted(ids, dst)
    keep = (si < n) & (di < n)
    keep[keep] = (ids[si[keep]] == src[keep]) & (ids[di[keep]] == dst[keep])
    return si[keep], di[keep]


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
