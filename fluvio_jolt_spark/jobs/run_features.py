"""spark-submit entry point for the transcript feature pipeline.

  spark-submit --py-files fluvio_jolt_spark.zip \
      fluvio_jolt_spark/jobs/run_features.py \
      --turns <parquet path or synthetic:N> --snapshots <path|-> \
      --out /path/out --buckets 64 [--resume] [--layout bucketed]

Default layout (checkpointed): reshape + salted window features + as-of
join with per-bucket checkpoints/lineage (plans.checkpoint); a second
invocation with --resume skips committed buckets.

--layout=bucketed is the at-scale default layout run end-to-end: turns
and snapshots are written as conv_id-bucketed managed tables, then the
WHOLE pipeline executes with ZERO shuffle exchanges — the bucketed scan
satisfies the window stage's clustering, the as-of is the co-located
join-verify variant, the payload join is bucket-co-located, and the
row-local jolt reshape runs LAST (mapInArrow drops partitioning info,
so putting it after the joins keeps every join exchange-free). The
report JSON includes the counted "exchanges" so callers (and the job
test) can assert the zero-shuffle property.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

# allow spark-submit without --py-files when run from the repo root
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--turns", required=True, help="parquet path or synthetic:<n_turns>")
    p.add_argument("--snapshots", default="-", help="parquet path, '-' for none/synthetic")
    p.add_argument("--out", required=True)
    p.add_argument("--spec", default=None, help="jolt spec JSON file (default: bench spec)")
    p.add_argument(
        "--buckets", type=int, default=None,
        help="bucket count for the bucketed layout / checkpoint manifest "
        "(default: auto — sources.tables.suggest_bucket_count over the "
        "input row count, ~40k rows per bucket, power of two, >=16)",
    )
    p.add_argument("--chunk-rows", type=int, default=8192)
    p.add_argument(
        "--reindex-turns",
        action="store_true",
        help="re-derive a dense 0-based turn_idx per conv_id (row_number over "
        "(turn_idx, ts)) before the salted feature stage. REQUIRED for "
        "external parquet whose turn_idx has gaps: the salted chunking "
        "assumes dense contiguous turn_idx (see skew.with_turn_features_salted) "
        "and silently misplaces chunk-seam carry rows otherwise. Synthetic "
        "inputs are dense by construction; one extra window pass when on.",
    )
    p.add_argument("--session-gap-s", type=int, default=1800)
    p.add_argument("--resume", action="store_true")
    p.add_argument(
        "--layout",
        choices=("auto", "checkpointed", "bucketed"),
        default="auto",
        help="'bucketed' materializes conv_id-bucketed tables and runs the "
        "zero-exchange pipeline (no checkpoint/resume; see module docstring). "
        "'auto' (default) picks bucketed when the input is already a bucketed "
        "table or at/above --bucketed-threshold rows (r4 measurement: the "
        "bucketed lane wins decisively from ~2.4M turns up — raw 2->8 "
        "scaling 0.69 vs 0.50 on identical input), else checkpointed.",
    )
    p.add_argument(
        "--bucketed-threshold",
        type=int,
        default=2_000_000,
        help="row count at/above which --layout=auto selects the bucketed "
        "zero-exchange pipeline (footer-statistics count, one cheap job)",
    )
    p.add_argument(
        "--warehouse",
        default=None,
        help="spark.sql.warehouse.dir for the bucketed layout's managed "
        "tables (a STATIC conf — only effective when this job creates "
        "the session)",
    )
    p.add_argument(
        "--no-plan-verify",
        action="store_true",
        help="bucketed layout: skip the zero-exchange verification pass. "
        "Verifying counts exchanges from an EXECUTED adaptive plan, which "
        "re-runs the pipeline once — fine at validation scale, wasteful "
        "on a production-size input (the report then carries "
        "exchanges=null).",
    )
    args = p.parse_args(argv)

    from fluvio_jolt_spark.operators.asof import asof_join
    from fluvio_jolt_spark.operators.reshape import jolt_reshape, reference_bench_spec
    from fluvio_jolt_spark.operators.skew import with_turn_features_salted
    from fluvio_jolt_spark.plans.checkpoint import BUCKET_COL, CheckpointedRun
    from fluvio_jolt_spark.plans.session import build_session
    from fluvio_jolt_spark.sources.transcripts import materialize

    spark = build_session(
        app_name="fjs-run-features",
        extra_conf={"spark.sql.warehouse.dir": args.warehouse} if args.warehouse else None,
    )

    if args.turns.startswith("synthetic:"):
        n = int(args.turns.split(":", 1)[1])
        tpath, spath = materialize(n)
        turns = spark.read.parquet(str(tpath))
        snaps = spark.read.parquet(str(spath))
    else:
        turns = spark.read.parquet(args.turns)
        snaps = spark.read.parquet(args.snapshots) if args.snapshots != "-" else None

    if args.reindex_turns:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
        turns = turns.withColumn("turn_idx", F.row_number().over(w) - 1)

    spec_json = (
        Path(args.spec).read_text() if args.spec else reference_bench_spec()
    )

    layout = args.layout
    auto_reason = None
    n_est = None
    if layout == "auto":
        # Layout auto-selection: an input registered as a bucketed table
        # runs the zero-exchange pipeline outright; otherwise a cheap
        # row-count (parquet footer statistics — no data scan) decides
        # by size. At 10^12 turns the bucketed lane is the only one
        # whose 2->8 scaling holds (BENCH/BASELINE.md r4-r5).
        n_est = turns.count()
        if n_est >= args.bucketed_threshold:
            layout, auto_reason = "bucketed", f"rows={n_est}>=threshold"
        else:
            layout, auto_reason = "checkpointed", f"rows={n_est}<threshold"

    buckets_auto = args.buckets is None
    if buckets_auto:
        from fluvio_jolt_spark.sources.tables import suggest_bucket_count

        if n_est is None:
            n_est = turns.count()
        args.buckets = suggest_bucket_count(
            n_est, min_tasks=spark.sparkContext.defaultParallelism)

    if layout == "bucketed":
        report = _run_bucketed(spark, turns, snaps, spec_json, args)
        if auto_reason:
            report["layout_auto"] = auto_reason
        if buckets_auto:
            report["buckets_auto"] = True
        print(json.dumps(report))
        spark.stop()
        return 0

    def pipeline(df):
        feats = with_turn_features_salted(
            df.select("conv_id", "turn_idx", "role", "tool", "ts", BUCKET_COL),
            chunk_rows=args.chunk_rows,
            session_gap_s=args.session_gap_s,
        )
        if snaps is not None:
            feats = asof_join(feats, snaps, on="ts", right_on="snap_ts", by="conv_id")
        payload = jolt_reshape(
            df.select("conv_id", "turn_idx", "text"), spec_json, columns="text"
        )
        return feats.join(payload, ["conv_id", "turn_idx"])

    lineage = {
        "job": "run_features",
        "turns": args.turns,
        "snapshots": args.snapshots,
        "spec_sha": __import__("hashlib").sha256(spec_json.encode()).hexdigest()[:16],
        "chunk_rows": args.chunk_rows,
        "session_gap_s": args.session_gap_s,
    }
    run = CheckpointedRun(args.out, n_buckets=args.buckets, lineage=lineage)
    if not args.resume and run.completed_buckets():
        print("output has committed buckets; pass --resume to continue", file=sys.stderr)
        return 2

    t0 = time.time()
    report = run.run(turns, pipeline)
    report["elapsed_s"] = round(time.time() - t0, 3)
    if auto_reason:
        report["layout_auto"] = auto_reason
    if buckets_auto:
        report["buckets_auto"] = True
    print(json.dumps(report))
    spark.stop()
    return 0


def _run_bucketed(spark, turns, snaps, spec_json: str, args) -> dict:
    """The zero-exchange at-scale pipeline over bucketed managed tables.

    Stage order matters: window features and the join-verify as-of run
    straight off the bucketed scans (clustering satisfied, no
    exchange); the payload text is joined while both sides still carry
    the bucket partitioning; the row-local jolt reshape runs last
    because mapInArrow re-creates output attributes and thereby drops
    partitioning information — downstream of all joins that is free.
    """
    import re
    import time as _time

    from fluvio_jolt_spark.operators.asof import asof_join_bucketed
    from fluvio_jolt_spark.operators.reshape import jolt_reshape
    from fluvio_jolt_spark.operators.window_features import with_turn_features
    from fluvio_jolt_spark.sources.tables import BucketedTableSource

    def _drop(name: str) -> None:
        # idempotent re-runs: drop the registration AND any orphaned
        # managed-table location (saveAsTable refuses to overwrite a
        # leftover directory from a killed run)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(Path(wh) / name.lower(), ignore_errors=True)

    t0 = _time.time()
    src = BucketedTableSource(n_buckets=args.buckets, bucket_col="conv_id")
    _drop("fjs_bkt_turns")
    src.write(turns, "fjs_bkt_turns")
    bt = src.read(spark, "fjs_bkt_turns")
    feats = with_turn_features(
        bt.select("conv_id", "turn_idx", "role", "tool", "ts"),
        session_gap_s=args.session_gap_s,
    )
    if snaps is not None:
        _drop("fjs_bkt_snaps")
        src.write(snaps, "fjs_bkt_snaps")
        bs = src.read(spark, "fjs_bkt_snaps")
        feats = asof_join_bucketed(
            feats, bs, on="ts", right_on="snap_ts", by="conv_id", key_cols=("turn_idx",)
        )
    joined = feats.join(
        bt.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"]
    )
    out = jolt_reshape(joined, spec_json, columns="text")
    out.write.mode("overwrite").parquet(args.out)
    # Count exchanges from an EXECUTED adaptive plan, not the pre-execution
    # string: under AQE the final executed plan can differ from the initial
    # one (and the write action plans separately), so a pre-write snapshot
    # could misreport the zero-shuffle claim. Executing through this
    # DataFrame's OWN QueryExecution (never .count(), which builds a new
    # one) finalizes its AdaptiveSparkPlan; the string then carries the
    # final plan first with the initial plan after '== Initial Plan =='.
    # The verification pass re-runs the pipeline once — skippable at
    # production scale via --no-plan-verify.
    exchanges = bucketed_scans = None
    if not args.no_plan_verify:
        qe = out._jdf.queryExecution()
        qe.executedPlan().execute().count()
        plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
        exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
        bucketed_scans = plan.count("Bucketed: true")
    n = spark.read.parquet(args.out).count()
    report = {
        "job": "run_features",
        "layout": "bucketed",
        "n_buckets": args.buckets,
        "rows": n,
        "exchanges": exchanges,
        "bucketed_scans": bucketed_scans,
        "elapsed_s": round(_time.time() - t0, 3),
    }
    if exchanges is not None:
        # Provenance (honest-reporting): the counted plan comes from a
        # separate verification re-execution of this QueryExecution, not
        # from the production write's own run — under AQE the two can in
        # principle finalize differently.
        report["plan_verify_provenance"] = "separate verification re-execution"
    return report


if __name__ == "__main__":
    raise SystemExit(main())
