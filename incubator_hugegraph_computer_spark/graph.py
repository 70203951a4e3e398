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
        self.csr_df: DataFrame | None = None
        self.salted_df: DataFrame | None = None
        self.hubs_df: DataFrame | None = None
        self.salt_factor: int = 1

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
        if not self._cached:
            self.edges = self.edges.persist()
            self.vertices = self.vertices.persist()
            self._cached = True
        return self

    def unpersist(self) -> None:
        if self._cached:
            self.edges.unpersist()
            self.vertices.unpersist()
            self._cached = False
            self._counts.clear()
        # release derived caches too — with_salting/with_csr each pin a
        # full extra copy of the edge set
        for attr in ("csr_df", "salted_df", "hubs_df", "_degrees"):
            df = getattr(self, attr, None)
            if df is not None:
                df.unpersist()
                setattr(self, attr, None)

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

    # --------------------------------------------------- skew handling
    def salted_edges(self, hub_threshold: int = 100_000, salt_factor: int = 16) -> DataFrame:
        """Edges with a ``salt`` column splitting power-law hub *sources*
        into ``salt_factor`` sub-groups. The state side of a message
        pass is then exploded across salts for hub vertices only, so no
        single task owns a whole hub adjacency. The reference has no
        skew handling (plain hash partition); this is the explicit
        salting the 10^12-file scale target requires on top of AQE's
        skew-join splitting. Returns (src, dst, salt) where salt==0 for
        non-hub sources.
        """
        deg = self.out_degrees().where(F.col("out_deg") >= hub_threshold)
        hubs = F.broadcast(deg.select(F.col("id").alias("src"), F.lit(True).alias("is_hub")))
        return (
            self.edges.join(hubs, "src", "left")
            .withColumn(
                "salt",
                # pmod, NOT abs(hash)%k: abs(Integer.MIN_VALUE) stays
                # negative, and a negative salt matches no replicated
                # state row — that edge would silently never receive
                # hub messages (~E/2^32 lost edges at 10^12 scale)
                F.when(
                    F.col("is_hub"), F.pmod(F.hash("dst"), F.lit(salt_factor))
                ).otherwise(F.lit(0)),
            )
            .drop("is_hub")
        )

    def csr(self) -> DataFrame:
        """Adjacency packed per source: (src, neighbors array<long>) —
        the analogue of Vermeer's in-memory CSR
        (``vermeer/apps/structure/graph_data.go:43-60``). Useful when an
        algorithm repeatedly fans out whole neighborhoods: one shuffle
        at build time, then message passes become explode() with no
        per-superstep edge shuffle."""
        return self.edges.groupBy("src").agg(F.collect_list("dst").alias("neighbors"))

    def with_salting(self, hub_threshold: int = 100_000, salt_factor: int = 16) -> "Graph":
        """Enable explicit hub salting for message passes.

        Power-law hub *sources* own adjacency runs far larger than a
        partition's fair share; hash partitioning alone (the reference's
        only strategy, ``HashPartitioner.java:41-44``) leaves one task
        holding the whole run. Salting splits each hub's edges across
        ``salt_factor`` sub-keys: edges are re-partitioned by
        (src, salt) and the *state* side of the pass replicates rows —
        only for hubs (a broadcast semi-set decides) — across the salts,
        so every task handles ≤ 1/salt_factor of any hub's fan-out.
        Results are identical (verified in tests); only the physical
        distribution changes.
        """
        self.salted_df = self.salted_edges(hub_threshold, salt_factor).repartition(
            self.num_partitions, "src", "salt"
        ).persist()
        self.hubs_df = (
            self.out_degrees()
            .where(F.col("out_deg") >= hub_threshold)
            .select("id")
            .persist()
        )
        self.salt_factor = salt_factor
        self.salted_df.count()
        self.hubs_df.count()
        return self

    def with_csr(self) -> "Graph":
        """Build + cache the CSR adjacency; message passes whose payload
        depends only on source-side state then run as
        state ⋈ csr → explode(neighbors) — the per-superstep edge-side
        work drops from E join rows (sorted by SMJ every pass) to V
        hash-join rows + a codegen'd Generate."""
        if self.csr_df is None:
            self.csr_df = self.csr().persist()
            self.csr_df.count()
        return self
