"""SparkSession factory with scale-oriented defaults.

The defaults here are the ones we would ship to a 1000-executor cluster:
AQE on (runtime coalescing + skew-join splitting), broadcast threshold
sized for the polygon dimension layers, Arrow enabled for every
pandas-UDF exchange. On the sandbox we run ``local[N]`` but nothing in
the engine assumes single-JVM execution.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SHUFFLE_PARTITIONS = 32


def spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition a small-file input up to the session's default
    parallelism before compute-dense per-row work.

    A compact parquet table (50k docs ≈ 15 MB, 20k × 64-double
    embeddings ≈ 10 MB) scans as 1-2 input splits, so a signature UDF
    or a distance scan downstream of it runs on 1-2 cores no matter how
    many the cluster has — measured 2/32 cores busy on the sf1.0
    documents table (partitioning must come from the work, not the file
    layout).  Hash-repartitioning on ``key`` is deterministic (safe
    under task retry, unlike round-robin), and inputs that already have
    >= defaultParallelism partitions are returned unchanged (the same
    object), so a 100 TB corpus never pays the extra shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))


def get_spark(
    app_name: str = "eodal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing, skew-join splitting — the
        # first line of defense for city-hotspot cell skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Polygon layers are small dimensions — let Spark broadcast them.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Every python exchange is Arrow-batched; no per-row pickling.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # Bounded probes (limit(n).collect()) cover all partitions of a
        # small layer in executeTake's FIRST round instead of scaling up
        # 1→4→16… one job per round.  Per-partition rows stay capped by
        # LocalLimit, so a huge layer still can't flood the driver.
        .config("spark.sql.limit.initialNumPartitions", "64")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    return builder.getOrCreate()
