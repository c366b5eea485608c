"""Scan-parallelism repair for CPU-dense map stages.

Spark sizes scan splits by INPUT bytes (spark.sql.files.maxPartitionBytes),
which is right for I/O-bound scans but starves operators whose map stage
amplifies the input by orders of magnitude (n-gram explodes, per-shingle
hashing, per-record Python kernels, per-element array math): a compact
single-row-group parquet file yields ONE scan task and the whole pipeline
runs on one core regardless of cluster size. Parquet row-group granularity
means split configs (maxPartitionBytes / minPartitionNum) cannot help
either — a split without a row-group midpoint reads zero rows.

``fan_out`` is the guide §2.5 "input skew: repartition immediately after
the read" fix, made scale-adaptive twice over:

* it only fires when the frame's actual partition count is below the
  computed target — at 100 TB a table scan has thousands of row groups
  and this is a no-op;
* the target itself derives from the optimizer's size estimate (one
  partition per ``SPARK_GRAFT_FANOUT_GRAIN`` compressed input bytes,
  capped at the session's parallelism), so a tiny input fans out to a
  handful of partitions, not to `cores` near-empty tasks. The default
  grain (32 KiB of compressed columnar input) reflects the 30-100×
  CPU amplification of the stages this guards: one task then owns a
  few MB of in-flight exploded/hashed data.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame

# Compressed input bytes per fanned-out partition. Production deployments
# tune this per cluster (bigger grain on fast cores / small clusters);
# the default is sized for CPU-amplifying stages, see module docstring.
FAN_OUT_GRAIN = int(os.environ.get("SPARK_GRAFT_FANOUT_GRAIN", 32 << 10))


def fan_out(df: DataFrame, min_partitions: "int | None" = None) -> DataFrame:
    """Round-robin repartition a frame that arrives with fewer partitions
    than its size-derived target; no-op otherwise (and for streaming
    frames, which manage their own partitioning).

    Call it BEFORE a CPU-dense map stage and AFTER projecting down to the
    columns that stage needs, so the repair shuffle carries the narrow
    projection only. Round-robin keeps it deterministic-safe: Spark sorts
    before round-robin repartitioning (SPARK-23207) so retried tasks
    reproduce the same placement, and no downstream result here depends
    on row placement (hash-keyed aggregations/joins only).

    ``min_partitions`` overrides the size-derived target exactly.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = int(min_partitions or sc.defaultParallelism)
    if min_partitions is None:
        # an error the JVM raises computing the estimate (raw, or as the
        # PySpark exception it converts to) keeps the full-parallelism
        # target; a Python-side error is a bug and propagates
        try:
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except (Py4JJavaError, CapturedException):
            size = None
        if size is not None:
            target = min(target, max(1, size // FAN_OUT_GRAIN))
    if target <= 1 or df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
