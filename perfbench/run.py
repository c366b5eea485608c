"""Repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload {flagship,registry} \
        --seed N --seconds S --trace {0,1}

Runs Spark local[4] from this one driver process. With ``--trace 0`` the
last stdout line carries the end-to-end metrics (measured tracing-free);
with ``--trace 1`` it carries the per-layer metrics of a separate traced
run and the span file is written under ``.perfbench/spans/``. The line
before it holds the run context and the workload-specific end-to-end
figures. See perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402
from harness import WORK, MemorySampler, RunContext, Tracer, median, timed  # noqa: E402

SETUP_REPEATS = 3
TRACED_SETUPS = 2

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}

REGISTRY_GROUPS = ("dedup", "similarity", "text_analysis", "validation", "encoders", "sampling",
                   "asof", "window_features", "reshape", "multimodal", "interval_join", "sql",
                   "xxhash")
PER_LAYER_UNITS = {
    "sources.scan_s": "s",
    "sources.tables.bucket_write_s": "s",
    "operators.skew.features_s": "s",
    "operators.asof.self_s": "s",
    "operators.asof.bucketed_self_s": "s",
    "operators.window_features.self_s": "s",
    "operators.asof.match_frac": "ratio",
    "operators.reshape.self_s": "s",
    "operators.reshape.us_per_turn": "us",
    "operators.reshape.kernel_share": "ratio",
    "jolt.us_per_rec": "us",
    "jolt.compile_us": "us",
    "jobs.run_features.wall_s": "s",
    "jobs.run_features.reshape_self_s": "s",
    "jobs.run_features.verify_s": "s",
    "jobs.run_features.recount_s": "s",
    "sink.write_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "spark.exchanges": "count",
    "operators.partitioning.repartitions": "count",
    "operators.dedup.verify_keep_frac": "ratio",
    "trace.overhead_s": "s",
    "flagship.serial_s": "s",
    "flagship.scaling_1to4": "ratio",
    **{f"registry.{g}.{m}": u for g in REGISTRY_GROUPS
       for m, u in (("wall_s", "s"), ("build_s", "s"), ("jobs_per_query", "count"))},
}


def make_workload(name: str, seed: int, tracer, event_dir=None):
    if name == "flagship":
        from transcripts import Flagship

        return Flagship(seed, tracer, event_dir)
    from registry import Registry

    return Registry(seed, tracer, event_dir)


def measure(wl, seconds: float, setups: int = SETUP_REPEATS, min_passes: int | None = None,
            check: bool = True) -> dict:
    """Set up `setups` times, each on a new SparkContext from
    build_session (the first also launches the JVM; median reported),
    prime the last set-up (untimed), then run passes on it until
    `seconds` of pass time have elapsed (at least the workload's
    `min_passes`)."""
    min_passes = wl.min_passes if min_passes is None else min_passes
    setup_times = []
    for _ in range(setups):
        wl.stop()
        setup_times.append(timed(wl.setup))
    prime_s = timed(lambda: wl.prime(check))
    passes = []
    busy = 0.0
    while busy < seconds or len(passes) < min_passes:
        p = wl.run_pass(len(passes))
        passes.append(p)
        busy += p["wall_s"]
    return {"setup": setup_times, "prime_s": prime_s, "passes": passes}


def end_to_end(name: str, seed: int, seconds: float) -> tuple[dict, dict, int, int]:
    tracer = Tracer()
    wl = make_workload(name, seed, tracer)
    with MemorySampler() as mem:
        try:
            m = measure(wl, seconds)
            failed, attempted, detail = wl.check(m["passes"])
        finally:
            wl.stop()
    walls = [p["wall_s"] for p in m["passes"]]
    metrics = {
        "setup_s": median(m["setup"]),
        "wall_s": median(walls),
        "peak_rss_mb": mem.peak_mb,
    }
    detail.update({"setup_runs_s": m["setup"], "prime_s": m["prime_s"], "pass_walls_s": walls,
                   "peak_rss_parts_mb": mem.parts_mb})
    detail.update(wl.workload_metrics(m["passes"], metrics["wall_s"]))
    return metrics, detail, attempted, failed


def untraced_walls(name: str, seed: int, setups: int, n_passes: int) -> list[float]:
    """The overhead reference: the traced run's set-ups and number of
    passes with tracing off (its output is the traced passes' output, so
    its primed pass runs unchecked)."""
    wl = make_workload(name, seed, Tracer())
    try:
        m = measure(wl, 0, setups=setups, min_passes=n_passes, check=False)
    finally:
        wl.stop()
    return [p["wall_s"] for p in m["passes"]]


def traced(name: str, seed: int, seconds: float) -> tuple[dict, dict, int, int]:
    """The traced passes (event log, job descriptions, spans) and each
    layer's milestones, then the same set-ups and passes untraced; the
    tracing overhead is the difference of their median pass times."""
    run_id = f"{name}-{seed}-{int(time.time())}"
    event_dir = WORK / "events" / run_id
    tracer = Tracer(enabled=True)
    wl = make_workload(name, seed, tracer, event_dir)
    try:
        passes = measure(wl, seconds / 2, setups=TRACED_SETUPS,
                         min_passes=wl.traced_passes)["passes"]
        wl.run_milestones()
        failed, attempted, detail = wl.check(passes)
    finally:
        wl.stop()
    layers = wl.layers(event_dir, passes, detail)
    traced_wall = median([p["wall_s"] for p in passes])
    untraced = untraced_walls(name, seed, TRACED_SETUPS, len(passes))
    layers["trace.overhead_s"] = traced_wall - median(untraced)
    if name == "flagship":
        from transcripts import FeatureJob

        layers.update(serial_baseline(seed, median(untraced)))
        fj_layers, fj_failed, fj_attempted = FeatureJob(seed, tracer, event_dir).measure()
        layers.update(fj_layers)
        failed, attempted = failed + fj_failed, attempted + fj_attempted
    spans = WORK / "spans" / f"{run_id}.jsonl"
    spans.parent.mkdir(parents=True, exist_ok=True)
    tracer.write(spans)
    detail["span_file"] = str(spans.relative_to(harness.ROOT))
    detail["untraced_walls_s"] = untraced
    metrics = {k: float(layers.get(k, 0.0)) for k in PER_LAYER_UNITS}
    return metrics, detail, attempted, failed


def serial_baseline(seed: int, wall4: float) -> dict:
    """The flagship once at local[1]: the 1 -> 4 core pairing."""
    from transcripts import Flagship

    wl = Flagship(seed, Tracer(), cores=1, warmup_turns=2_000)
    try:
        wl.setup()
        serial = wl.run_pass(0)["wall_s"]
    finally:
        wl.stop()
    return {"flagship.serial_s": serial, "flagship.scaling_1to4": serial / (4 * wall4)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("flagship", "registry"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    harness.prepare_env()
    import fluvio_jolt_spark  # noqa: F401  -- fail before any work when the package is absent

    ctx = RunContext(args.seed)
    run = traced if args.trace else end_to_end
    try:
        metrics, detail, attempted, failed = run(args.workload, args.seed, args.seconds)
    finally:
        harness.stop_jvm()
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    detail["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    detail["run_context"] = ctx.finish()
    print(json.dumps({"workload": args.workload, "trace": args.trace, "detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
