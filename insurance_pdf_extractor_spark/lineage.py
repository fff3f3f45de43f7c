"""Per-partition lineage/metrics (north_rule mandate) — cluster-real.

Executors cannot assume the driver's filesystem, so metrics never touch
``open()``: the fused UDF stage emits one extra OUTPUT ROW per (stage,
partition) — a ``_metric`` JSON string on a sentinel url — which rides
the normal Spark write path into the staged parquet. The pipeline then
splits them out, appends them to a ``metrics/`` parquet table (a Spark
write, so any Hadoop-compatible URI works — at cluster scale this append
becomes an Iceberg metrics-table commit), and exposes them via
``read_metrics`` with task-retry dedup (highest attempt per
(run_id, stage, partition_id) wins).

There is no Spark built-in for intra-UDF lineage (SURVEY.md §4 item 2) —
``TaskContext.get().partitionId()`` inside the iterator is the mechanism.
"""

from __future__ import annotations

import json

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import METRICS

#: sentinel url carried by metric rows inside a data DataFrame
METRIC_URL = "__metrics__"

_METRIC_JSON = T.StructType(METRICS.fields + [
    T.StructField("attempt", T.IntegerType(), True)])


def metric_json(run_id: str, stage: str, doc_count: int, n_bytes: int,
                fail_count: int, wall_ms: int) -> str:
    """Build one metric row's JSON payload. Called from INSIDE the fused
    ``mapInArrow`` iterator, once per (stage, partition)."""
    tc = TaskContext.get()
    return json.dumps({
        "run_id": run_id, "stage": stage,
        "partition_id": tc.partitionId() if tc is not None else -1,
        "doc_count": doc_count, "bytes": n_bytes,
        "fail_count": fail_count, "wall_ms": wall_ms,
        "attempt": tc.attemptNumber() if tc is not None else 0,
    })


def split_metrics(staged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Staged stage-output → (data rows, parsed metric rows w/ attempt)."""
    data = staged.where(F.col("_metric").isNull()).drop("_metric")
    metrics = (staged.where(F.col("_metric").isNotNull())
               .select(F.from_json("_metric", _METRIC_JSON).alias("m"))
               .select("m.*"))
    return data, metrics


def read_metrics(spark: SparkSession, metrics_dir: str) -> DataFrame:
    """Load the committed metrics table, deduping task retries: one row
    per (run_id, stage, partition_id), highest attempt wins. Pure Spark
    reads — no driver-side directory listing."""
    df = spark.read.parquet(metrics_dir)
    w = (Window.partitionBy("run_id", "stage", "partition_id")
         .orderBy(F.desc("attempt")))
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(*[f.name for f in METRICS.fields]))
