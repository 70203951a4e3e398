"""Deterministic synthetic graph generators — R-MAT (Chakrabarti et
al., SDM'04), the standard power-law benchmark generator (Graph500
uses the same recursive-quadrant scheme).

A 100 TB engine needs to MAKE 100 TB test graphs: the generator is
embarrassingly parallel (one row per edge id off ``spark.range``, all
``n_edges`` drawn independently), levels unroll into column
expressions (no Python in the hot path), and every quadrant draw is an
md5-derived 32-bit INTEGER compared against integer thresholds — no
floats anywhere, so any engine (and the DuckDB oracle) reproduces the
exact edge list from (seed, levels, probabilities).

``repo_files.generate_repo_files`` makes the *payload-bearing* corpus;
this makes pure topology at any scale and skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def rmat_edges(
    spark: SparkSession,
    n_edges: int,
    levels: int = 10,
    a: float = 0.57,
    b: float = 0.19,
    c: float = 0.19,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """(edge_id, src, dst) — one R-MAT edge per id over a 2^levels
    vertex space. Quadrant thresholds are fixed 32-bit integers
    (ta = ⌊a·2³²⌋ …), drawn against md5(edge_id:level:seed)."""
    ta = int(a * 2**32)
    tb = int((a + b) * 2**32)
    tc = int((a + b + c) * 2**32)
    df = spark.range(
        0, n_edges, numPartitions=num_partitions
    ).withColumnRenamed("id", "edge_id")
    src = F.lit(0).cast("long")
    dst = F.lit(0).cast("long")
    for lvl in range(levels):
        u = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("edge_id").cast("string"),
                        F.lit(str(lvl)),
                        F.lit(str(seed)),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        sbit = F.when(u < ta, F.lit(0)).when(u < tb, F.lit(0)).otherwise(F.lit(1))
        dbit = F.when(u < ta, F.lit(0)).when(u < tb, F.lit(1)).when(
            u < tc, F.lit(0)
        ).otherwise(F.lit(1))
        src = src * 2 + sbit
        dst = dst * 2 + dbit
    return df.select("edge_id", src.cast("long").alias("src"), dst.cast("long").alias("dst"))


def rmat_degree_profile(
    spark: SparkSession,
    n_edges: int,
    levels: int = 10,
    seed: int = 42,
) -> DataFrame:
    """(out_degree, n_vertices) — the out-degree histogram of the
    generated R-MAT graph: the power-law skew fingerprint that
    validates the generator (and shows the hub distribution that
    AQE's skew-join splitting sees)."""
    e = rmat_edges(spark, n_edges, levels=levels, seed=seed)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    return (
        deg.groupBy("out_degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    )
