"""Property-graph container over DataFrames.

Reference data model (see SURVEY.md §1): vertices carry (id, value,
active), edges are co-located with their source vertex
(``computer-api/.../core/graph/vertex/Vertex.java:27-60``,
``edge/Edge.java:25-44``). Here:

- ``vertices``: DataFrame ``(id: long, ...dims)`` — one row per vertex.
- ``edges``: DataFrame ``(src: long, dst: long[, weight: double])``,
  hash-partitioned by ``src`` — the Spark analogue of the reference's
  ``HashPartitioner`` placement of adjacency with the vertex
  (``computer-core/.../core/graph/partition/HashPartitioner.java:41-50``).
  This plain hash partition is the only edge layout: like the
  reference, message passes run over it with no skew handling.

Ids are dense longs; string/UUID ids are minted to longs at ingest
(see sources/extractor.py) which sidesteps the reference's
length-first byte ordering of UTF8 ids (``BytesUtil.compare``,
``computer-api/.../core/util/BytesUtil.java:61-73``) while preserving
min-id semantics for non-negative longs (numeric order — SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Edge dedup per EdgeFrequency.SINGLE (computer-api/.../config/
# EdgeFrequency.java:26-29): at most one edge per (src, dst).


def stored_rdd(df: DataFrame):
    """The RDD whose blocks hold ``df`` when ``df`` is a local checkpoint
    (a ``LogicalRDD`` scan of a stored RDD, as ``plans/lineage.barrier``
    returns), else None. A frame built from local Python rows is a
    ``LogicalRDD`` too, over an RDD that stores nothing."""
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().getStorageLevel().isValid():
        return plan.rdd()
    return None


class Graph:
    """Immutable graph handle: partitioned edges + vertex dimension."""

    def __init__(
        self,
        vertices: DataFrame,
        edges: DataFrame,
        num_partitions: int | None = None,
        prepartitioned: bool = False,
    ):
        self.spark = edges.sparkSession
        if num_partitions is None:
            num_partitions = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.num_partitions = num_partitions
        self.vertices = vertices
        # Pre-shuffle adjacency once by src: every superstep's
        # state-join then reuses this layout (the reference likewise
        # shuffles the graph once at inputstep and keeps partitions
        # static across supersteps — WorkerInputManager.java:110-141).
        self.edges = edges if prepartitioned else edges.repartition(num_partitions, "src")
        self._cached = False
        # vertex and edge counts, read once while the frames are cached
        self._counts: dict[str, int] = {}
        self._degrees: DataFrame | None = None

    # ---------------------------------------------------------- build
    @classmethod
    def from_edges(cls, edges: DataFrame, num_partitions: int | None = None) -> "Graph":
        """Vertex set = endpoints of the edge set (the reference instead
        drops edges whose src has no vertex row —
        ``FileGraphPartition.java:341-343``; with no explicit vertex
        input, deriving vertices from edges is the equivalent closure)."""
        verts = (
            edges.select(F.col("src").alias("id"))
            .unionAll(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        return cls(verts, edges, num_partitions)

    def cache(self) -> "Graph":
        """Store both frames once and keep their counts. A frame that is
        already a local checkpoint stays as it is: its blocks hold it,
        and caching it would store it a second time."""
        if not self._cached:
            if stored_rdd(self.edges) is None:
                self.edges = self.edges.persist()
            if stored_rdd(self.vertices) is None:
                self.vertices = self.vertices.persist()
            self._cached = True
        return self

    @property
    def is_cached(self) -> bool:
        """Whether :meth:`cache` holds the frames (and so their counts
        are paid once)."""
        return self._cached

    def unpersist(self) -> None:
        if self._cached:
            self.edges.unpersist()
            self.vertices.unpersist()
            self._cached = False
            self._counts.clear()
        # the degree frame is derived from the edges; drop it with them
        if self._degrees is not None:
            self._degrees.unpersist()
            self._degrees = None

    # ------------------------------------------------------ structure
    def num_vertices(self) -> int:
        return self._count("vertices")

    def num_edges(self) -> int:
        return self._count("edges")

    def _count(self, frame: str) -> int:
        """Rows of ``frame``: one Spark job, paid once per frame while the
        graph is cached (the cached rows cannot change), every call
        otherwise."""
        if not self._cached:
            return getattr(self, frame).count()
        if frame not in self._counts:
            self._counts[frame] = getattr(self, frame).count()
        return self._counts[frame]

    def symmetrized(self) -> "Graph":
        """Undirected view: union(src→dst, dst→src) distinct, self-loops
        dropped — the Vermeer WCC/LPA/TC convention of scanning in+out
        edges (``vermeer/algorithms/wcc.go:93-102``)."""
        e = self.edges
        sym = (
            e.select("src", "dst")
            .unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        return Graph(self.vertices, sym, self.num_partitions)

    def out_degrees(self) -> DataFrame:
        """(id, out_deg) for every vertex, 0 for dangling. Computed once
        and reused — PageRank needs it every superstep."""
        if self._degrees is None:
            deg = self.edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("out_deg")
            )
            self._degrees = (
                self.vertices.select("id")
                .join(deg, "id", "left")
                .select("id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
            )
        return self._degrees

    def degrees(self, direction: str = "both") -> DataFrame:
        """(id, degree) — direction in {'in','out','both'}; matches
        Vermeer's degree algorithm (``vermeer/algorithms/degree.go:60-115``)."""
        parts = []
        if direction in ("out", "both"):
            parts.append(self.edges.select(F.col("src").alias("id")))
        if direction in ("in", "both"):
            parts.append(self.edges.select(F.col("dst").alias("id")))
        ids = parts[0] if len(parts) == 1 else parts[0].unionAll(parts[1])
        deg = ids.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
        return (
            self.vertices.select("id")
            .join(deg, "id", "left")
            .select("id", F.coalesce("degree", F.lit(0)).alias("degree"))
        )
