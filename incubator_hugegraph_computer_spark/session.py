"""SparkSession factory with scale-appropriate defaults.

Tuned for the execution model this engine targets: AQE on (runtime
skew-join splitting + partition coalescing — the reference has no skew
handling at all, ``HashPartitioner.java:41-44``), Arrow enabled for the
pandas-UDF extraction path, and shuffle partitions sized to cores in
local mode (a 1000-executor deployment would instead set
``spark.sql.shuffle.partitions`` to ~2-3x total cores via spark-submit
conf; nothing in this module assumes local mode).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # Iterative BSP loops re-reference the same state DataFrames many
    # times; keep broadcast threshold default but let AQE convert
    # shrunken frontiers to broadcast joins at runtime.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
}


def _third_of_ram() -> str:
    """A third of host RAM: a heap the JVM can grow into without
    starving the Python driver, its workers and the OS of the rest."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 3 // 2**20}m"


def get_spark(
    app_name: str = "hugegraph-computer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same entrypoint serves pytest, bench, and spark-submit (where
    ``master`` is supplied externally and this arg stays None but
    spark-submit's --master wins because the builder only sets it when
    no master is configured).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N-ish partitions; a real cluster overrides via conf.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(4, int(n))

    builder = SparkSession.builder.appName(app_name)
    active = SparkSession.getActiveSession()
    if active is None:
        builder = builder.master(master)
        # Local mode: the driver JVM is the only executor — the 1g
        # default heap starves it. Honored only at JVM creation.
        if master.startswith("local") and not (extra_confs or {}).get(
            "spark.driver.memory"
        ):
            builder = builder.config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _third_of_ram(),
            )
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
