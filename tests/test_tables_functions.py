"""Source abstraction + expression-layer smoke tests."""

from __future__ import annotations

import subprocess
import sys
import zipfile

import pytest
from pyspark.sql import functions as F

from fluvio_jolt_spark.functions import content_hash
from fluvio_jolt_spark.sources.tables import IcebergSource


def test_iceberg_source_fails_clearly(spark):
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        IcebergSource(spark)


def test_expression_layer(spark):
    df = spark.createDataFrame([("c",)], "conv_id string")
    row = df.select(content_hash(F.col("conv_id")).alias("h")).collect()[0]
    assert isinstance(row.h, int)


def test_package_zip(tmp_path):
    out = tmp_path / "pkg.zip"
    res = subprocess.run(
        [sys.executable, "fluvio_jolt_spark/jobs/package.py", str(out)],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert res.returncode == 0, res.stderr
    names = zipfile.ZipFile(out).namelist()
    assert "fluvio_jolt_spark/__init__.py" in names
    assert any(n.startswith("fluvio_jolt_spark/jolt/") for n in names)


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key join with ZERO exchanges —
    the co-located-join layout for entity-keyed tables at scale."""
    import re

    from pyspark.sql import functions as F

    from fluvio_jolt_spark.sources.tables import BucketedTableSource
    from fluvio_jolt_spark.sources.transcripts import read_transcripts

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        turns, snaps = read_transcripts(spark, n_turns=3000)
        src = BucketedTableSource(n_buckets=8, bucket_col="conv_id")
        src.write(turns, "bkt_turns")
        src.write(snaps, "bkt_snaps")
        j = src.read(spark, "bkt_turns").join(src.read(spark, "bkt_snaps"), "conv_id")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0, plan[:1500]
        assert plan.count("Bucketed: true") >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_turns")
        spark.sql("DROP TABLE IF EXISTS bkt_snaps")


def test_bucketed_pipeline_zero_exchange_and_parity(spark, tmp_path):
    """The 100 TB layout claim, end to end: over conv_id-bucketed turns
    and snapshots, windowed features + the join-verify as-of run with
    ZERO exchanges — and bit-match the union-window as-of."""
    import re

    from fluvio_jolt_spark.operators.asof import asof_join, asof_join_bucketed
    from fluvio_jolt_spark.operators.window_features import with_turn_features
    from fluvio_jolt_spark.sources.tables import BucketedTableSource
    from fluvio_jolt_spark.sources.transcripts import read_transcripts

    turns, snaps = read_transcripts(spark, n_turns=3000)
    src = BucketedTableSource(n_buckets=8)
    try:
        src.write(turns, "bp_turns")
        src.write(snaps, "bp_snaps")
        bt, bs = src.read(spark, "bp_turns"), src.read(spark, "bp_snaps")
        feats = with_turn_features(bt.select("conv_id", "turn_idx", "role", "tool", "ts"))
        out = asof_join_bucketed(
            feats, bs, on="ts", right_on="snap_ts", by="conv_id", key_cols=("turn_idx",)
        )
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0, plan[:1500]
        want = asof_join(feats, bs, on="ts", right_on="snap_ts", by="conv_id")
        cols = sorted(want.columns)
        a = {(r["conv_id"], r["turn_idx"]): tuple(str(r[c]) for c in cols) for r in rows}
        b = {
            (r["conv_id"], r["turn_idx"]): tuple(str(r[c]) for c in cols)
            for r in want.collect()
        }
        assert a == b
    finally:
        spark.sql("DROP TABLE IF EXISTS bp_turns")
        spark.sql("DROP TABLE IF EXISTS bp_snaps")


def test_run_features_bucketed_layout_zero_exchange(spark, tmp_path):
    """Job-level check of the at-scale default layout: run_features
    --layout=bucketed executes end-to-end (real spark-submit surface,
    own JVM) with ZERO shuffle exchanges — window + as-of + payload
    join all satisfied by the bucketed scans, row-local reshape last —
    and writes the full feature vector."""
    import json
    import os

    out = tmp_path / "bkt_out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    res = subprocess.run(
        [
            sys.executable, "fluvio_jolt_spark/jobs/run_features.py",
            "--turns", "synthetic:3000",
            "--snapshots", "-",  # synthetic path provides snaps itself
            "--out", str(out),
            "--buckets", "8",
            "--layout", "bucketed",
            "--warehouse", str(tmp_path / "wh"),
        ],
        capture_output=True, text=True, cwd="/root/repo", env=env, timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    report = json.loads(res.stdout.strip().splitlines()[-1])
    assert report["layout"] == "bucketed"
    assert report["exchanges"] == 0, report
    assert report["bucketed_scans"] >= 2
    got = spark.read.parquet(str(out))
    assert report["rows"] == got.count() == 3000
    for col in ("conv_id", "turn_idx", "session_id", "attr_value", "text_reshaped"):
        assert col in got.columns, got.columns


def test_run_features_auto_layout_selects_by_scale(spark, tmp_path):
    """--layout=auto (the default) picks the zero-exchange bucketed
    pipeline at/above the row threshold and the checkpointed pipeline
    below it, and reports the decision. The bucketed run omits
    --buckets, so it also checks the derived count
    (suggest_bucket_count) and its buckets_auto report."""
    import json
    import os

    env = dict(os.environ, SPARK_GRAFT_CPUS="8")

    res = subprocess.run(
        [
            sys.executable, "fluvio_jolt_spark/jobs/run_features.py",
            "--turns", "synthetic:2000",
            "--out", str(tmp_path / "auto_big"),
            "--layout", "auto",
            "--bucketed-threshold", "1000",   # 2000 rows >= 1000 -> bucketed
            "--warehouse", str(tmp_path / "wh"),
        ],
        capture_output=True, text=True, cwd="/root/repo", env=env, timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    report = json.loads(res.stdout.strip().splitlines()[-1])
    assert report["layout"] == "bucketed"
    assert report["exchanges"] == 0
    assert report["layout_auto"].startswith("rows=2000>=")
    assert report["buckets_auto"] is True
    assert report["n_buckets"] == 16  # 2000 rows, min_tasks=8 -> clamp floor
    assert report["plan_verify_provenance"]

    res = subprocess.run(
        [
            sys.executable, "fluvio_jolt_spark/jobs/run_features.py",
            "--turns", "synthetic:2000",
            "--out", str(tmp_path / "auto_small"),
            "--buckets", "4",
            # default threshold (2M) -> checkpointed below it
        ],
        capture_output=True, text=True, cwd="/root/repo", env=env, timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    report = json.loads(res.stdout.strip().splitlines()[-1])
    assert report.get("layout") != "bucketed"
    assert report["layout_auto"].startswith("rows=2000<")


def test_suggest_bucket_count_rule():
    """~40k rows/bucket, next power of two, clamped to [16, 4096]."""
    from fluvio_jolt_spark.sources.tables import suggest_bucket_count

    assert suggest_bucket_count(1_000) == 16
    assert suggest_bucket_count(600_000) == 16
    assert suggest_bucket_count(2_400_000) == 64
    assert suggest_bucket_count(10_000_000) == 256
    assert suggest_bucket_count(10**12) == 4096

    # min_tasks raises the floor to >=2 waves on the session's cores so
    # a small input never gets fewer tasks than cores (600k rows on
    # local[32] would otherwise bucket into 16 < 32 tasks)...
    assert suggest_bucket_count(600_000, min_tasks=32) == 64
    assert suggest_bucket_count(600_000, min_tasks=8) == 16
    assert suggest_bucket_count(2_400_000, min_tasks=32) == 64
    # ...and never lowers a row-driven count or breaks the clamp.
    assert suggest_bucket_count(10_000_000, min_tasks=32) == 256
    assert suggest_bucket_count(10**12, min_tasks=4096) == 4096
