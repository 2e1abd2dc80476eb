"""SparkSession helper tuned for the sandbox (local[N]) while keeping the
settings that matter on a real multi-executor cluster (AQE, Arrow,
shuffle-partition sizing)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "bleve_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # 2x cores: smooths hot-bucket skew and straggler imbalance
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = 2 * (cpus if inner == "*" else int(inner))
        else:
            shuffle_partitions = 2 * cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("BLEVE_SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # query-time scans keep Spark's coarse default splits (small
        # postings/dictionary lookups become a handful of tasks, not
        # hundreds); the BUILD's analysis + postings stage instead scopes
        # a finer maxPartitionBytes around itself (build.py stage 2) so the
        # pandas-UDF pass still gets >= 4 balanced tasks per core
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.sql.files.openCostInBytes", "131072")
        # let the docid rank table broadcast in the docs-stage join so the
        # corpus content never shuffles; big rank tables (10^9+ docs) fall
        # back to a shuffle join automatically
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
