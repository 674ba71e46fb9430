"""Per-partition lineage + row-count metrics (north-rule requirement).

The reference logs through Python logging only
(`eodal/config/settings.py:98-130`).  The engine emits, for any stage:

* an Arrow-batched pass-through that counts rows per partition via a
  Spark accumulator (zero extra jobs, works mid-pipeline), and
* a metrics DataFrame (stage, partition_id, rows) that a driver loop
  appends to a metrics table — queryable lineage, the relational
  analogue of a metrics Iceberg table.

Both are partition-parallel; nothing collects the data itself.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def count_rows_accumulator(df: DataFrame, sc=None):
    """Attach a row-counting accumulator to a DataFrame.

    Returns (df_passthrough, accumulator).  The accumulator fills when
    the plan executes — read it *after* an action.  mapInPandas
    pass-through keeps Arrow batching (no per-row Python).

    CAVEAT (inherent to transformation-side accumulators): Spark
    guarantees exactly-once updates only inside actions, so task
    retries/speculation and re-running actions on the same plan inflate
    the count — treat it as a live progress signal, not lineage truth.
    Exact per-stage counts come from `append_stage_metrics` (a real
    aggregation)."""
    sc = sc or df.sparkSession.sparkContext
    acc = sc.accumulator(0)

    def tap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return df.mapInPandas(tap, df.schema), acc


def partition_metrics(df: DataFrame, stage: str) -> DataFrame:
    """(stage, partition_id, rows) — one row per physical partition.
    A pure aggregation: map-side partials, tiny shuffle."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(
            F.lit(stage).alias("stage"),
            F.col("_pid").alias("partition_id"),
            "rows",
        )
    )


def append_stage_metrics(df: DataFrame, stage: str, metrics_dir: str) -> dict:
    """Compute partition metrics for a stage and append them to the
    metrics table (parquet dir, Iceberg in production).  Returns a
    lineage record {stage, partitions, rows}.

    ONE Spark action: the lineage totals are an ``Observation`` on the
    metrics write itself, so the stage's upstream plan runs exactly
    once with nothing persisted."""
    obs = Observation()
    m = partition_metrics(df, stage).observe(
        obs, F.count(F.lit(1)).alias("partitions"), F.sum("rows").alias("rows")
    )
    m.write.mode("append").parquet(os.path.join(metrics_dir, "partition_metrics"))
    agg = obs.get
    record = {
        "stage": stage,
        "partitions": int(agg["partitions"] or 0),
        "rows": int(agg["rows"] or 0),
    }
    with open(os.path.join(metrics_dir, "lineage.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    return record
