"""Deterministic graph derived from the driver-provided TPC-H tables.

The engine's native input is the repo-files table (sources/repo_files +
extractor), but the correctness gate runs against the shared
``/root/testdata/sf*`` relational tables — so the oracle-checkable
graph queries derive their edge table from ``orders`` with a fixed,
SQL-expressible rule (identical in Spark and DuckDB):

    edges    = DISTINCT (o_custkey, o_orderkey % 1024), src ≠ dst
    vertices = endpoints of edges

This yields a ~2.5k-vertex / ~15k-edge digraph at sf0.01 with danglings
(dst ids that are not custkeys) and skewed in-degree — structurally the
same shape the engine targets.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from incubator_hugegraph_computer_spark.graph import Graph

DST_MOD = 1024

EDGES_SQL = (
    f"SELECT DISTINCT o_custkey AS src, o_orderkey % {DST_MOD} AS dst "
    f"FROM orders WHERE o_custkey <> o_orderkey % {DST_MOD}"
)
VERTICES_SQL = (
    f"SELECT DISTINCT id FROM (SELECT src AS id FROM ({EDGES_SQL}) "
    f"UNION ALL SELECT dst FROM ({EDGES_SQL}))"
)
# Symmetrized distinct, self-loops dropped (matches Graph.symmetrized()).
SYM_SQL = (
    f"SELECT DISTINCT src, dst FROM ("
    f"SELECT src, dst FROM ({EDGES_SQL}) UNION ALL "
    f"SELECT dst AS src, src AS dst FROM ({EDGES_SQL})) WHERE src <> dst"
)
# Both-direction multiset (matches lpa_sync's edge multiset).
BOTH_SQL = (
    f"SELECT src, dst FROM ({EDGES_SQL}) UNION ALL "
    f"SELECT dst AS src, src AS dst FROM ({EDGES_SQL})"
)


def orders_graph(spark: SparkSession, sf_dir: str) -> Graph:
    # the two columns the rule reads, declared: no job infers a schema
    # from the file footers, and an int32 column widens to long
    orders = spark.read.schema("o_orderkey long, o_custkey long").parquet(
        f"{sf_dir}/orders.parquet"
    )
    edges = (
        orders.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % DST_MOD).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return Graph.from_edges(edges)
