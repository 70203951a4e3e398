"""Rings (directed cycle) detection — canonical path extension.

Reference: ``computer-algorithm/.../path/rings/RingsDetection.java:30-114``:
superstep 0 every vertex sends path [self] to out-neighbors with id ≥
its own; a path extends through vertices not already on it; a ring is
recorded at its **smallest** vertex when the path returns to its start.
(The filtered variant ``rings/filter/RingsDetectionWithFilter.java``
adds property predicates — exposed here as optional edge/vertex filter
expressions.)

So every directed cycle is enumerated exactly once, anchored at its
minimum vertex. Path containment uses an array column +
``array_contains`` — all JVM expressions. Cycle enumeration is
exponential in general; ``max_length`` bounds the search (the reference
bounds it by superstep budget, identical effect).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def _cycle_search_edges(
    graph: Graph,
    edge_filter: Column | None,
    vertex_filter: Column | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared setup: deduplicated self-loop-free edges + vertex set,
    both restricted by the optional property filters."""
    # EdgeFrequency.SINGLE dedup + self-loop drop (parallel edges would
    # enumerate the same cycle twice; self-cycles are degenerate).
    edges = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    if edge_filter is not None:
        edges = edges.where(edge_filter)
    verts = graph.vertices.select("id")
    if vertex_filter is not None:
        verts = verts.where(vertex_filter)
        keep = verts.select(F.col("id").alias("src"))
        edges = edges.join(keep, "src", "left_semi").join(
            verts.select(F.col("id").alias("dst")), "dst", "left_semi"
        )
    return edges, verts


def rings(
    graph: Graph,
    max_length: int = 6,
    edge_filter: Column | None = None,
    vertex_filter: Column | None = None,
    per_anchor_limit: int | None = None,
    per_anchor_limit_min_size: int = 1,
) -> DataFrame:
    """(start, path array<long>) — one row per directed cycle of length
    ≤ max_length vertices; start = min(path).

    ``per_anchor_limit``: stop extending paths from anchors that already
    recorded that many cycles of size ≥ ``per_anchor_limit_min_size``
    (Vermeer's limit-mode DFS cutoff, ``cycle_detection.go:206-209`` —
    its cycleList holds only in-band cycles, so sub-band finds must not
    count toward the limit). Lossless for the
    shortest-then-lexicographic final selection because the frontier
    discovers all shorter cycles before any longer one."""
    edges, verts = _cycle_search_edges(graph, edge_filter, vertex_filter)
    edges = edges.persist()

    frontier = verts.select(
        F.col("id").alias("start"),
        F.col("id").alias("current"),
        F.array(F.col("id")).alias("path"),
    ).persist()
    found = []
    for _ in range(1, max_length + 1):
        ext = frontier.join(edges, frontier.current == edges.src)
        closed = ext.where(F.col("dst") == F.col("start")).select("start", "path")
        found.append(barrier(None, closed)[0])
        nxt = (
            ext.where(
                (F.col("dst") > F.col("start")) & ~F.array_contains(F.col("path"), F.col("dst"))
            )
            .select(
                "start",
                F.col("dst").alias("current"),
                F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
            )
        )
        if per_anchor_limit is not None:
            # anchors that already hold >= limit cycles stop searching —
            # the found list is tiny (bounded by limit x anchors), so the
            # recount each round is cheap relative to the frontier join
            acc = found[0]
            for f in found[1:]:
                acc = acc.unionAll(f)
            sat = (
                acc.where(F.size("path") >= per_anchor_limit_min_size)
                .groupBy("start")
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") >= per_anchor_limit)
                .select("start")
            )
            nxt = nxt.join(sat, "start", "left_anti")
        frontier, (n,) = barrier(frontier, nxt)
        if n == 0:
            break
    # found[] is materialized — the search caches can go
    release(frontier)
    edges.unpersist()
    out = found[0]
    for f in found[1:]:
        out = out.unionAll(f)
    return out


def _boolean_cycles(
    graph: Graph,
    min_vertices: int,
    max_vertices: int,
    edge_filter: Column | None,
    vertex_filter: Column | None,
) -> DataFrame:
    """Vermeer Boolean mode (``cycle_detection.go:224-235``): every
    vertex searches for a cycle through ITSELF (no min-anchor ordering)
    and short-circuits as soon as one is found — anchors with a recorded
    cycle are anti-joined out of the frontier each round, so on
    cyclic-dense graphs the frontier collapses instead of enumerating
    every cycle. (id, in_cycle 0/1) for every vertex."""
    edges, verts = _cycle_search_edges(graph, edge_filter, vertex_filter)
    edges = edges.persist()

    frontier = verts.select(
        F.col("id").alias("start"),
        F.col("id").alias("current"),
        F.array(F.col("id")).alias("path"),
    ).persist()
    has = None  # (start) anchors with a cycle found
    for _ in range(1, max_vertices + 1):
        ext = frontier.join(edges, frontier.current == edges.src)
        closed = (
            ext.where((F.col("dst") == F.col("start")) & (F.size("path") >= min_vertices))
            .select("start")
            .distinct()
        )
        has, _ = (
            barrier(None, closed)
            if has is None
            else barrier(has, has.unionAll(closed).distinct())
        )
        nxt = (
            ext.where(
                (F.col("dst") != F.col("start"))
                & ~F.array_contains(F.col("path"), F.col("dst"))
                & (F.size("path") < max_vertices)
            )
            .select(
                "start",
                F.col("dst").alias("current"),
                F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
            )
            .join(has, "start", "left_anti")  # the short-circuit
        )
        frontier, (n,) = barrier(frontier, nxt)
        if n == 0:
            break
    release(frontier)
    edges.unpersist()
    members = has.select(F.col("start").alias("id")).withColumn("in_cycle", F.lit(1))
    return (
        graph.vertices.select("id")
        .join(members, "id", "left")
        .select("id", F.coalesce("in_cycle", F.lit(0)).alias("in_cycle"))
    )


def rings_with_filter(
    graph: Graph,
    describe: str | dict,
    max_length: int = 6,
) -> DataFrame:
    """(start, path array<long>) — rings detection driven by the
    reference's JSON filter config (``rings.property_filter``,
    ``rings/filter/RingsDetectionWithFilter.java:35-120``), compiled to
    Column predicates by :mod:`..functions.filter_dsl`.

    Semantics mapped 1:1 from the reference:

    - ``vertex_filter`` gates compute0 anchors AND every message-receiving
      vertex (``:57,:76``) — here: the vertex set restricts both edge
      endpoints, so no path enters or leaves a filtered-out vertex;
    - the first hop out of the anchor uses the **no-message** edge filter
      (compute0 sends before any message exists, ``SpreadFilter.java:56-59``);
    - every later hop (including the ring-closing edge — the closer is
      sent from compute, ``:105-112``) uses the spread filter with
      ``$message`` bound to the previously-walked edge's properties
      (``message.walkEdgeProp``), which the frontier carries as ``m_*``
      columns — only the properties the expressions actually read.

    The reference propagates walks from every anchor but records a ring
    only at its minimum vertex (``:82-96``); since the filters read only
    the walk itself, pruning to min-anchored walks (``dst > start``) is
    output-lossless and turns the k× redundant search into 1×.

    Vertices/edges may carry a ``properties`` map column (property-graph
    ingest) or plain top-level property columns; ``label`` columns are
    optional unless the config targets a concrete label."""
    from incubator_hugegraph_computer_spark.functions.filter_dsl import SpreadFilterSpec

    spec = SpreadFilterSpec(describe)

    vcols = graph.vertices.columns
    v_res = (
        (lambda p: F.col("properties")[p]) if "properties" in vcols else (lambda p: F.col(p))
    )
    v_label = F.col("label") if "label" in vcols else None
    verts = graph.vertices.where(spec.vertex_filter(v_res, v_label)).select("id")

    # project ONLY the scalar props the expressions read — prunes a
    # properties map down to columns (maps also break .distinct())
    ecols = graph.edges.columns
    msg_props = spec.message_props()
    need = sorted(set(spec.edge_element_props()) | set(msg_props))
    proj = [F.col("src"), F.col("dst")]
    if "label" in ecols:
        proj.append(F.col("label").alias("elabel"))
    if "properties" in ecols:
        proj.extend(F.col("properties")[p].alias(f"e_{p}") for p in need)
    else:
        proj.extend(F.col(p).alias(f"e_{p}") for p in need)
    e_res = lambda p: F.col(f"e_{p}")  # noqa: E731
    e_label = F.col("elabel") if "label" in ecols else None

    edges = (
        graph.edges.where(F.col("src") != F.col("dst"))
        .select(*proj)
        .distinct()  # EdgeFrequency.SINGLE-style dedup, like rings()
        .join(verts.select(F.col("id").alias("src")), "src", "left_semi")
        .join(verts.select(F.col("id").alias("dst")), "dst", "left_semi")
        .persist()
    )

    first_pred = spec.edge_filter(e_res, e_label)
    spread_pred = spec.edge_spread_filter(e_res, lambda p: F.col(f"m_{p}"), e_label)
    carry = [e_res(p).alias(f"m_{p}") for p in msg_props]

    frontier = (
        edges.where(first_pred & (F.col("dst") > F.col("src")))
        .select(
            F.col("src").alias("start"),
            F.col("dst").alias("current"),
            F.array("src", "dst").alias("path"),
            *carry,
        )
    )
    frontier, _ = barrier(None, frontier)
    # self-loops are dropped, so the smallest ring has 2 vertices
    found = [frontier.select("start", "path").where(F.lit(False))]
    for _ in range(2, max_length + 1):
        ext = frontier.join(edges, frontier.current == edges.src).where(spread_pred)
        closed = ext.where(F.col("dst") == F.col("start")).select("start", "path")
        found.append(barrier(None, closed)[0])
        nxt = ext.where(
            (F.col("dst") > F.col("start")) & ~F.array_contains(F.col("path"), F.col("dst"))
        ).select(
            "start",
            F.col("dst").alias("current"),
            F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
            *carry,
        )
        frontier, (n,) = barrier(frontier, nxt)
        if n == 0:
            break
    release(frontier)
    edges.unpersist()
    out = found[0]
    for f in found[1:]:
        out = out.unionAll(f)
    return out


def cycle_detection(
    graph: Graph,
    min_length: int = 1,
    max_length: int = 6,
    mode: str = "all",
    limit: int | None = None,
    edge_filter: Column | None = None,
    vertex_filter: Column | None = None,
) -> DataFrame:
    """Vermeer's ``cycle_detection`` (vermeer/algorithms/cycle_detection.go:55-118):
    bounded directed-cycle search with ``cycle.min_length`` /
    ``cycle.max_length`` and three output modes —

    - ``all``:     (start, path) every cycle in the length band
    - ``limit``:   at most ``limit`` cycles per anchor vertex
      (deterministic: shortest, then lexicographically smallest, where
      Vermeer keeps the first found)
    - ``boolean``: (id, in_cycle 0/1) per vertex — lies on any cycle

    Property filters (``filter.vertex_expr`` / ``filter.edge_expr``)
    map to the same Column predicates as the filtered rings variant.

    ⚠ Length-band semantics are Vermeer's EXACTLY: min_length/max_length
    bound the DFS *stack* length, which excludes the root vertex
    (``cycle_detection.go:175-177`` prunes at ``len(stack) > maxLen``,
    ``:190-197`` records at ``len(stack) >= minLen``; the stack holds
    the cycle vertices minus the root). A cycle with k vertices has
    stack length k-1, so the admitted cycle sizes are
    **[min_length+1, max_length+1] vertices** — e.g. min_length=3
    excludes triangles.
    """
    if mode not in ("all", "limit", "boolean"):
        raise ValueError("cycle detection mode must be 'all', 'limit', 'boolean'")
    min_vertices, max_vertices = min_length + 1, max_length + 1
    if mode == "boolean":
        return _boolean_cycles(graph, min_vertices, max_vertices, edge_filter, vertex_filter)
    per_anchor = None
    if mode == "limit":
        if not limit:
            raise ValueError("mode='limit' requires limit (cycle.max_cycles)")
        per_anchor = limit
    r = rings(
        graph,
        max_vertices,
        edge_filter,
        vertex_filter,
        per_anchor_limit=per_anchor,
        per_anchor_limit_min_size=min_vertices,
    ).where(F.size("path") >= min_vertices)
    if mode == "limit":
        w = Window.partitionBy("start").orderBy(F.size("path"), F.col("path"))
        return (
            r.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= limit)
            .drop("__rn")
        )
    return r


def ring_counts(graph: Graph, max_length: int = 6) -> DataFrame:
    """(start, n_rings) per vertex that anchors at least one cycle."""
    r = rings(graph, max_length)
    return r.groupBy("start").agg(F.count(F.lit(1)).alias("n_rings"))
