"""The flagship workload, the bucketed feature job its traced run also
measures, and the DuckDB recomputation that checks both outputs.

Inputs come from ``sources.transcripts.materialize`` with the run's
seed and are cached under the work directory (load-generator work, not
counted in set-up).
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import time
from pathlib import Path

import duckdb

from harness import (CORES, EMPTY, WORK, median, noop, pass_metrics, read_event_logs, start_session,
                     task_seconds, timed)

FLAGSHIP_TURNS = 100_000
# the generator's longest conversation at this size holds 3,000-4,000
# turns; at 512 rows per chunk it exceeds 4 x chunk_rows, so the
# flagship takes the salted feature and as-of path (operators.skew,
# asof_join_salted) as it does at production size with the default
# 8,192-row chunks
FLAGSHIP_CHUNK_ROWS = 512
FEATURE_JOB_TURNS = 10_000
# the flagship's warm-up: a sample of this many turns from every input
# partition, so every Python worker starts in set-up; smaller samples
# leave the first timed pass measurably slower than the next
WARMUP_TURNS = 20_000
SESSION_GAP_S = 1800


def inputs(n_turns: int, seed: int) -> tuple[Path, Path]:
    from fluvio_jolt_spark.sources.transcripts import materialize

    return materialize(n_turns, cache_dir=WORK / "cache", seed=seed)


def parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))


# ---------------------------------------------------------------- shared


class TranscriptJob:
    """Output checks and milestone timing shared by the flagship and the
    feature job."""

    name = ""
    flavour = ""
    planted = False  # self-check only: corrupt the expected output

    def prime(self, check: bool = True) -> None:
        """Nothing to do between set-up and the timed passes: the set-up's
        warm-up already ran the job; outputs are checked after the passes."""

    def check(self, passes: list[dict]) -> tuple[int, int, dict]:
        checker = OutputCheck(self.tpath, self.spath, self.flavour)
        if self.planted:
            checker.con.execute("UPDATE expected SET text_reshaped = '{}' WHERE turn_idx = 1")
        try:
            results = [checker.check(p["out"]) for p in passes]
        finally:
            checker.close()
        for p in passes:
            shutil.rmtree(p["out"], ignore_errors=True)
        failed = sum(not r["ok"] for r in results)
        worst = max(results, key=lambda r: (not r["ok"], r["mismatched_rows"]))
        return failed, len(passes), {"check": worst, "turns": self.n_turns}

    def milestone(self, key: str, fn) -> None:
        with self.tracer.span(f"{self.name}.milestone.{key}"):
            fn()

    def milestone_times(self, ev: dict) -> tuple[dict, dict]:
        """Wall time and task time of each milestone."""
        t = {k: median(self.tracer.durations(f"{self.name}.milestone.{k}")) for k in self.milestones}
        task = {k: task_seconds([ev.get(f"{self.name}.milestone.{k}", EMPTY)]) for k in self.milestones}
        return t, task


def jolt_kernel(tpath: Path, n: int = 20_000) -> dict:
    """The single-thread Jolt kernel over the generated payloads, and the
    spec compile time."""
    import pyarrow.parquet as pq

    from fluvio_jolt_spark.jolt.compiler import TransformSpec
    from fluvio_jolt_spark.operators.reshape import jolt_transform_values, reference_bench_spec

    texts = pq.read_table(str(tpath), columns=["text"]).column("text").to_pylist()[:n]
    spec = reference_bench_spec()
    compiles = [timed(lambda: TransformSpec.from_json(spec)) for _ in range(200)]
    jolt_transform_values(texts[:1000], spec)
    runs = [timed(lambda: jolt_transform_values(texts, spec)) for _ in range(3)]
    return {"jolt.us_per_rec": 1e6 * median(runs) / len(texts),
            "jolt.compile_us": 1e6 * median(compiles)}


# ---------------------------------------------------------------- flagship


def flagship_frames(turns, snaps, roles, max_conv) -> dict:
    """The north-rule job, composed from public operators as the repo's
    bench composes it: dictionary-encoded narrow frame -> (salted)
    window features and as-of join -> Jolt reshape of the payload ->
    payload join. Returns every intermediate frame, so a traced run can
    materialize each layer as a milestone."""
    from pyspark.sql import functions as F

    from fluvio_jolt_spark.operators.asof import asof_join, asof_join_salted
    from fluvio_jolt_spark.operators.encoding import conv_key, dict_decode, dict_encode
    from fluvio_jolt_spark.operators.reshape import jolt_reshape, reference_bench_spec
    from fluvio_jolt_spark.operators.skew import with_turn_features_salted
    from fluvio_jolt_spark.operators.window_features import with_turn_features

    narrow = turns.select(
        conv_key(F.col("conv_id")).alias("conv_id"),
        "turn_idx",
        dict_encode(F.col("role"), roles, strict=False).alias("role"),
        F.when(F.col("tool").isNotNull() & (F.col("tool") != ""),
               F.coalesce(F.get_json_object("tool", "$.name"), F.lit(""))).otherwise("").alias("tool"),
        "ts",
    )
    snaps_enc = snaps.withColumn("conv_id", conv_key(F.col("conv_id")))
    asof_left = narrow.select("conv_id", "turn_idx", "ts")
    if max_conv > 4 * FLAGSHIP_CHUNK_ROWS:
        feats = with_turn_features_salted(narrow, chunk_rows=FLAGSHIP_CHUNK_ROWS, tool_is_name=True)
        asofn = asof_join_salted(asof_left, snaps_enc, on="ts", right_on="snap_ts",
                                 by="conv_id", chunk_rows=FLAGSHIP_CHUNK_ROWS)
    else:
        feats = with_turn_features(narrow, tool_is_name=True)
        asofn = asof_join(asof_left, snaps_enc, on="ts", right_on="snap_ts", by="conv_id")
    snap_cols = [c for c in asofn.columns if c not in ("conv_id", "turn_idx", "ts")]
    asofn = asofn.select(F.col("conv_id").alias("_ck"), "turn_idx", *snap_cols)
    payload = jolt_reshape(turns.select("conv_id", "turn_idx", "text", "tool"),
                           reference_bench_spec(), columns="text")
    payload = payload.withColumn("_ck", conv_key(F.col("conv_id")))
    feats = feats.drop("tool").withColumnRenamed("conv_id", "_ck")
    enriched = feats.join(asofn.hint("SHUFFLE_HASH"), ["_ck", "turn_idx"])
    out = payload.join(enriched.hint("SHUFFLE_HASH"), ["_ck", "turn_idx"]).drop("_ck")
    for c in ("role", "prev_role", "lead_role"):
        out = out.withColumn(c, dict_decode(F.col(c), roles))
    return {"scan": turns, "encode": narrow, "features": feats, "asof": asofn,
            "reshape": payload, "out": out}


class Flagship(TranscriptJob):
    """The benchmark's transcript workload: the flagship job written to
    zstd parquet, one pass per job run."""

    name = "flagship"
    flavour = "encoded"
    min_passes = 3
    traced_passes = 1
    milestones = ("scan", "encode", "features", "asof", "reshape", "out")

    def __init__(self, seed: int, tracer, event_dir=None, cores=None, warmup_turns=WARMUP_TURNS):
        self.seed = seed
        self.tracer = tracer
        self.event_dir = event_dir
        self.cores = cores
        self.warmup_turns = warmup_turns
        self.n_turns = FLAGSHIP_TURNS
        self.tpath, self.spath = inputs(self.n_turns, seed)
        self.spark = None

    def setup(self) -> None:
        """Session start (build_session on a new SparkContext), catalog
        statistics (role dictionary, longest conversation) and a warm-up
        pass over a slice of the table."""
        from pyspark.sql import functions as F

        from fluvio_jolt_spark.operators.encoding import distinct_values
        from fluvio_jolt_spark.sources.transcripts import read_transcripts

        kw = {"cores": self.cores} if self.cores else {}
        self.spark = start_session(event_dir=self.event_dir, **kw)
        self.tracer.attach(self.spark.sparkContext)
        self.turns, self.snaps = read_transcripts(self.spark, self.n_turns,
                                                  cache_dir=WORK / "cache", seed=self.seed)
        self.roles = distinct_values(self.turns, "role")
        self.max_conv = (self.turns.groupBy("conv_id").count()
                         .agg(F.max("count")).collect()[0][0])
        warm = flagship_frames(self.turns.sample(fraction=self.warmup_turns / self.n_turns, seed=0),
                               self.snaps, self.roles, self.max_conv)
        warm["out"].write.mode("overwrite").parquet(str(WORK / "out" / "warm"))

    def frames(self) -> dict:
        return flagship_frames(self.turns, self.snaps, self.roles, self.max_conv)

    def run_pass(self, i: int) -> dict:
        out_dir = WORK / "out" / f"flagship_{i}"
        with self.tracer.span("flagship.pass"):
            wall = timed(lambda: self.frames()["out"].write.mode("overwrite").parquet(str(out_dir)))
        return {"wall_s": wall, "out": out_dir, "bytes": parquet_bytes(out_dir)}

    def workload_metrics(self, passes: list[dict], wall: float) -> dict:
        return {
            "turns_per_s": {"value": self.n_turns / wall, "unit": "turns/s"},
            "out_bytes_per_turn": {"value": median([p["bytes"] for p in passes]) / self.n_turns,
                                   "unit": "B"},
        }

    def run_milestones(self) -> None:
        """Each layer's frame materialized on its own into the noop sink:
        a layer's self time is its milestone minus the milestone of its
        input; the parquet sink's is a traced pass minus ``out``."""
        fr = self.frames()
        for key in self.milestones:
            self.milestone(key, lambda: noop(fr[key]))

    def layers(self, event_dir: Path, passes: list[dict], detail: dict) -> dict:
        ev = read_event_logs(event_dir)
        t, task = self.milestone_times(ev)
        out = pass_metrics([ev.get("flagship.pass", EMPTY)], len(passes))
        out.update(jolt_kernel(self.tpath))
        us_per_turn = 1e6 * (task["reshape"] - task["scan"]) / self.n_turns
        out.update({
            "sources.scan_s": t["scan"],
            "operators.skew.features_s": t["features"] - t["encode"],
            "operators.asof.self_s": t["asof"] - t["encode"],
            "operators.asof.match_frac": detail["check"]["match_frac"],
            "operators.reshape.self_s": t["reshape"] - t["scan"],
            "operators.reshape.us_per_turn": us_per_turn,
            "operators.reshape.kernel_share": out["jolt.us_per_rec"] / us_per_turn,
            "sink.write_s": median([p["wall_s"] for p in passes]) - t["out"],
        })
        return out

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


# ---------------------------------------------------------------- feature job


class FeatureJob(TranscriptJob):
    """``jobs.run_features.main`` with the bucketed layout, called the
    way spark-submit calls it, then its steps one layer at a time. main
    stops its session; the session it runs in is the benchmark's own
    (with the event log), which main picks up through getOrCreate."""

    name = "feature_job"
    flavour = "raw"
    milestones = ("bucket_write", "bucketed_scan", "features", "asof", "join", "out",
                  "verify", "recount")

    def __init__(self, seed: int, tracer, event_dir):
        self.tracer = tracer
        self.event_dir = event_dir
        self.n_turns = FEATURE_JOB_TURNS
        self.tpath, self.spath = inputs(self.n_turns, seed)

    def run_main(self, out_dir: Path) -> float:
        from fluvio_jolt_spark.jobs.run_features import main

        with self.tracer.span("feature_job.main"):
            t0 = time.perf_counter()
            self.tracer.attach(start_session(event_dir=self.event_dir).sparkContext)
            with contextlib.redirect_stdout(io.StringIO()):
                rc = main(["--turns", str(self.tpath), "--snapshots", str(self.spath),
                           "--out", str(out_dir), "--layout", "bucketed",
                           "--warehouse", str(WORK / "warehouse")])
            wall = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"run_features exited {rc}")
        return wall

    def run_milestones(self, main_out: Path) -> None:
        """run_features' bucketed steps one layer at a time, then its
        plan-verify re-execution and its re-read of the output."""
        from fluvio_jolt_spark.sources.tables import suggest_bucket_count

        spark = start_session(event_dir=self.event_dir)
        self.tracer.attach(spark.sparkContext)
        try:
            steps = bucketed_frames(spark, self.tpath, self.spath, suggest_bucket_count(
                self.n_turns, min_tasks=spark.sparkContext.defaultParallelism))
            self.milestone("bucket_write", steps["write_tables"])
            fr = steps["frames"]()
            for key in ("bucketed_scan", "features", "asof", "join", "out"):
                self.milestone(key, lambda: noop(fr[key]))
            qe = fr["out"]._jdf.queryExecution()
            self.milestone("verify", lambda: qe.executedPlan().execute().count())
            self.milestone("recount", lambda: spark.read.parquet(str(main_out)).count())
        finally:
            spark.stop()

    def measure(self) -> tuple[dict, int, int]:
        """One checked main() run and one milestone run; returns the
        feature-job layer metrics and the check counts."""
        out_dir = WORK / "out" / "feature_job"
        wall = self.run_main(out_dir)
        self.run_milestones(out_dir)
        failed, attempted, _ = self.check([{"out": out_dir}])
        t, _ = self.milestone_times(read_event_logs(self.event_dir))
        return {
            "jobs.run_features.wall_s": wall,
            "sources.tables.bucket_write_s": t["bucket_write"],
            "operators.window_features.self_s": t["features"] - t["bucketed_scan"],
            "operators.asof.bucketed_self_s": t["asof"] - t["features"],
            "jobs.run_features.reshape_self_s": t["out"] - t["join"],
            "jobs.run_features.verify_s": t["verify"],
            "jobs.run_features.recount_s": t["recount"],
        }, failed, attempted


def bucketed_frames(spark, tpath: Path, spath: Path, n_buckets: int) -> dict:
    """run_features' bucketed composition, one public layer per step, so
    the traced run can time each layer of the feature job."""
    from fluvio_jolt_spark.operators.asof import asof_join_bucketed
    from fluvio_jolt_spark.operators.reshape import jolt_reshape, reference_bench_spec
    from fluvio_jolt_spark.operators.window_features import with_turn_features
    from fluvio_jolt_spark.sources.tables import BucketedTableSource

    src = BucketedTableSource(n_buckets=n_buckets, bucket_col="conv_id")
    turns = spark.read.parquet(str(tpath))
    snaps = spark.read.parquet(str(spath))

    def write_tables():
        for name, df in (("pb_bkt_turns", turns), ("pb_bkt_snaps", snaps)):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(WORK / "warehouse" / name, ignore_errors=True)
            src.write(df, name)

    def frames():
        bt = src.read(spark, "pb_bkt_turns")
        bs = src.read(spark, "pb_bkt_snaps")
        feats = with_turn_features(bt.select("conv_id", "turn_idx", "role", "tool", "ts"),
                                   session_gap_s=SESSION_GAP_S)
        asofd = asof_join_bucketed(feats, bs, on="ts", right_on="snap_ts", by="conv_id",
                                   key_cols=("turn_idx",))
        joined = asofd.join(bt.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
        out = jolt_reshape(joined, reference_bench_spec(), columns="text")
        return {"bucketed_scan": bt.select("conv_id", "turn_idx", "role", "tool", "ts"),
                "features": feats, "asof": asofd, "join": joined, "out": out}

    return {"write_tables": write_tables, "frames": frames}


# ---------------------------------------------------------------- checks


def _expected_sql(tpath: Path, spath: Path, flavour: str) -> str:
    """DuckDB recomputation of the feature vector, the backward as-of
    value and the reshaped payload. ``encoded`` is the flagship's tool
    semantics (a call is a non-empty extracted name); ``raw`` is
    with_turn_features' own (a call is a non-empty tool column)."""
    if flavour == "encoded":
        tname = ("CASE WHEN tool IS NOT NULL AND tool <> '' "
                 "THEN coalesce(json_extract_string(tool, '$.name'), '') ELSE '' END")
        is_call, call_name = f"({tname} <> '')", tname
    else:
        is_call = "(tool IS NOT NULL AND tool <> '')"
        call_name = "json_extract_string(tool, '$.name')"
    payload = (
        "'{\"balance\":' || json_extract(text, '$.balance')"
        " || ',\"personal_details\":{\"age\":' || json_extract(text, '$.age')"
        " || ',\"name\":' || json_extract(text, '$.name')"
        " || ',\"gender\":' || json_extract(text, '$.gender')"
        " || '},\"contacts\":{\"company\":' || json_extract(text, '$.company')"
        " || ',\"email\":' || json_extract(text, '$.email')"
        " || ',\"phone\":' || json_extract(text, '$.phone')"
        " || '},\"account_type\":\"CHECKING\"}'"
    )
    w = "PARTITION BY conv_id ORDER BY turn_idx, ts"
    return f"""
    WITH t AS (
      SELECT conv_id, turn_idx, role, ts, text,
             CAST({is_call} AS INTEGER) AS is_tool_call,
             CASE WHEN {is_call} THEN {call_name} END AS call_name
      FROM read_parquet('{tpath}/*.parquet')),
    f AS (
      SELECT *, lag(ts) OVER (w) AS prev_ts, lag(role) OVER (w) AS prev_role,
             (epoch_us(ts) - epoch_us(lag(ts) OVER (w))) / 1000000.0 AS inter_turn_s,
             sum(is_tool_call) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS tool_calls_last_k,
             sum(is_tool_call) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_calls_cum,
             last_value(call_name IGNORE NULLS) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_tool_name,
             lead(ts) OVER (w) AS lead_ts, lead(role) OVER (w) AS lead_role
      FROM t WINDOW w AS ({w})),
    s AS (
      SELECT *, sum(CASE WHEN inter_turn_s > {float(SESSION_GAP_S)} THEN 1 ELSE 0 END)
                  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM f WINDOW w AS ({w})),
    e AS (
      SELECT *, row_number() OVER (PARTITION BY conv_id, session_id ORDER BY turn_idx, ts) - 1
                  AS turn_in_session
      FROM s)
    SELECT e.conv_id, e.turn_idx, e.role, epoch_us(e.ts) AS ts, epoch_us(e.prev_ts) AS prev_ts,
           e.inter_turn_s, e.prev_role,
           CASE WHEN e.prev_role IS NULL THEN NULL ELSE e.role <> e.prev_role END AS role_alternated,
           e.is_tool_call, e.tool_calls_last_k, e.tool_calls_cum, e.session_id, e.turn_in_session,
           e.last_tool_name, epoch_us(e.lead_ts) AS lead_ts, e.lead_role, a.attr_value,
           {payload} AS text_reshaped
    FROM e ASOF LEFT JOIN read_parquet('{spath}') a
      ON e.conv_id = a.conv_id AND e.ts >= a.snap_ts
    """


CHECKED = ("role", "ts", "prev_ts", "inter_turn_s", "prev_role", "role_alternated",
           "is_tool_call", "tool_calls_last_k", "tool_calls_cum", "session_id",
           "turn_in_session", "last_tool_name", "lead_ts", "lead_role", "attr_value",
           "text_reshaped")


class OutputCheck:
    """Recomputes the expected output once per input, then checks each
    pass's parquet output against it (row count, dead letters, values)."""

    def __init__(self, tpath: Path, spath: Path, flavour: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {CORES}")
        self.con.execute(f"CREATE TABLE expected AS {_expected_sql(tpath, spath, flavour)}")
        self.n = self.con.execute("SELECT count(*) FROM expected").fetchone()[0]

    def check(self, out_dir: Path) -> dict:
        ts_cols = {"ts", "prev_ts", "lead_ts"}
        cols = ", ".join(f"epoch_us({c}) AS {c}" if c in ts_cols else c for c in CHECKED)
        self.con.execute(
            f"CREATE OR REPLACE VIEW actual AS SELECT conv_id, turn_idx, text_error, {cols} "
            f"FROM read_parquet('{out_dir}/*.parquet')")
        diff = " OR ".join(
            f"abs(a.{c} - e.{c}) > 1e-9 OR (a.{c} IS NULL) <> (e.{c} IS NULL)"
            if c in ("inter_turn_s", "attr_value") else f"a.{c} IS DISTINCT FROM e.{c}"
            for c in CHECKED)
        rows, dead, matched, bad, with_snap = self.con.execute(f"""
            SELECT (SELECT count(*) FROM actual),
                   (SELECT count(*) FROM actual WHERE text_error IS NOT NULL),
                   count(*), count(*) FILTER (WHERE {diff}),
                   count(*) FILTER (WHERE e.attr_value IS NOT NULL)
            FROM actual a JOIN expected e USING (conv_id, turn_idx)""").fetchone()
        ok = rows == self.n and matched == self.n and dead == 0 and bad == 0
        return {"ok": ok, "rows": rows, "expected_rows": self.n, "dead_letters": dead,
                "mismatched_rows": bad + (self.n - matched), "match_frac": with_snap / max(self.n, 1)}

    def close(self) -> None:
        self.con.close()
