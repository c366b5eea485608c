"""SparkSession construction with scale-aware defaults.

Local-mode testing stands in for a multi-executor cluster; every conf
here is one that also holds at cluster scale (AQE, Arrow, UTC, shuffle
partitions sized to parallelism rather than the 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "fluvio_jolt_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; cluster masters keep a healthy multiple of cores.
        shuffle_partitions = (
            int(master[len("local["):-1]) if master.startswith("local[") and master[6:-1].isdigit()
            else cpus
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet naive timestamps as TIMESTAMP_LTZ (UTC session ⇒
        # values identical to the stored naive micros); NTZ blocks
        # numeric casts and diverges from the DuckDB oracle.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # zstd parquet output (guide §6): ~38% fewer bytes than snappy on
        # the flagship's JSON-text payload (999 → 618 MB at sf1.0) at
        # equal-or-better wall time on this box's disk; at scale fewer
        # bytes written AND read downstream. Env-overridable for
        # deployments that standardize on another codec.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches feed the vectorized jolt stage; bigger batches
        # amortize the JVM<->Python hop without blowing worker memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # local mode: the driver heap IS the executor memory. Measured on
        # this workload: 16g beats 64g by ~2x at local[32] (G1 on a huge
        # heap stalls far more than it saves) — keep it moderate and
        # IDENTICAL across parallelism levels for scaling comparisons.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Throughput GC beats G1 for this batch workload: measured ~7%
        # on the sf0.1 flagship (interleaved A/B medians 5.06 s vs
        # 5.44 s) and no regression at 2.4M-turn salted scale. Only
        # effective at JVM launch; a no-op when attaching to an
        # existing JVM via getOrCreate.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # Off: per-call call-site capture. With it on (the PySpark 4
        # default), every Column / `functions` call walks the Python
        # stack and makes ~4 extra py4j round-trips (a conf read, a
        # PySparkCurrentOrigin reflection lookup, set, clear); PySpark's
        # own comment on `_enable_debugging_cache` says the option exists
        # "to reduce performance slowdown". Measured: simhash_candidates'
        # plan build falls from 11,132 to 2,912 py4j commands. Lost: the
        # Python file:line in an error's "DataFrame query context"; the
        # error message and its SQL context stay. PySpark caches the flag
        # process-wide at the first Column call made once a session
        # exists, so to debug, start the process with
        # extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
