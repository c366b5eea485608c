"""Source abstraction: bucketed managed tables today, Iceberg-ready
interface.

The engine reads "tables" through TableSource so the physical format is
swappable: BucketedTableSource writes and reads hash-bucketed parquet
tables, and IcebergSource raises a clear error at construction unless
the Iceberg catalog extension is on the classpath.

At cluster scale, switch by config:
  spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
  spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class TableSource:
    """Minimal reader interface: name → DataFrame."""

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        raise NotImplementedError

    def write(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        raise NotImplementedError


def suggest_bucket_count(
    n_rows: int, rows_per_bucket: int = 40_000,
    min_buckets: int = 16, max_buckets: int = 4096,
    min_tasks: int | None = None,
) -> int:
    """Bucket-count rule for the zero-exchange layout, next power of
    two of ``n_rows / rows_per_bucket`` clamped to [min, max].

    The bucketed job is one stage of n_buckets tasks, so the bucket
    count IS the parallelism grain: too few buckets quantizes into
    task waves whose last wave idles cores (measured directly —
    BENCH/bucket_sweep_r5.jsonl: at 2.4M turns, 16 buckets = 2 waves
    on 8 cores reads 0.745 raw 2→8 while 64 buckets = 8 waves reads
    0.78–0.87 with the campaign's fastest and tightest walls); too
    many buckets shrinks row groups below efficient scan size. ~40k
    turn-rows per bucket hits the measured sweet spot and a real
    cluster-scale table carries thousands of buckets either way.

    ``min_tasks``: the executing cluster's total core count, when the
    caller knows it. Small inputs on wide sessions otherwise get fewer
    buckets than cores (600k rows → 16 buckets leaves half of a
    local[32] idle and any straggler doubles the wall); passing cores
    raises the floor to the next power of two ≥ 2×cores so every core
    gets work across ≥2 waves. Irrelevant at cluster scale, where the
    row-driven count is in the thousands anyway."""
    import math

    raw = max(1, n_rows // max(1, rows_per_bucket))
    p2 = 1 << max(0, math.ceil(math.log2(raw)))
    if min_tasks:
        floor2 = 1 << max(0, math.ceil(math.log2(2 * min_tasks)))
        min_buckets = min(max_buckets, max(min_buckets, floor2))
    return max(min_buckets, min(max_buckets, p2))


class BucketedTableSource(TableSource):
    """Hash-bucketed, sorted managed tables (native data-source
    bucketing — no Hive metastore needed): both sides of an
    entity-keyed join written with the SAME bucket spec join with ZERO
    exchanges (verified in tests: no Exchange node, bucketed scans on
    both sides). This is the co-located-join layout for the 100 TB
    deployment: transcripts and snapshot tables bucketed by conv_id
    mean the as-of/enrichment joins and the window stage's entity
    partitioning are satisfied straight off the scan.

    Requires a SparkSession with a writable spark.sql.warehouse.dir.
    """

    def __init__(self, n_buckets: int = 256, bucket_col: str = "conv_id"):
        self.n_buckets = n_buckets
        self.bucket_col = bucket_col

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.table(name)

    def write(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        (
            df.write.bucketBy(self.n_buckets, self.bucket_col)
            .sortBy(self.bucket_col)
            .mode(mode)
            .saveAsTable(name)
        )


class IcebergSource(TableSource):
    """Iceberg catalog tables (`catalog.db.table`). Constructing this
    without the Iceberg runtime on the classpath raises immediately with
    a actionable message rather than failing mid-job."""

    def __init__(self, spark: SparkSession, catalog: str = "spark_catalog", db: str = "default"):
        self.catalog = catalog
        self.db = db
        jvm_ok = True
        try:
            spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.spark.SparkCatalog"
            )
        except Exception:
            jvm_ok = False
        if not jvm_ok:
            raise RuntimeError(
                "Iceberg runtime not on the classpath; add "
                "iceberg-spark-runtime and the catalog confs"
            )

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.table(f"{self.catalog}.{self.db}.{name}")

    def write(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        df.writeTo(f"{self.catalog}.{self.db}.{name}").createOrReplace()
