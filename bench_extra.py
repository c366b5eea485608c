"""Round-6 optimization harness (bench.py stays FROZEN for the driver).

Per-query noop-sink timing + explain("formatted") capture, mirroring
bench.py's session and warm-up so numbers are comparable:

  python bench_extra.py --queries span_dup_stats doc_novelty --runs 3 \
      --plans plans/r06 --suffix before

Env: SPARK_GRAFT_SF_DIR (the input tables; default in SF_DIR below),
SPARK_GRAFT_CPUS (default: the machine's core count).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _median_run(fn, runs: int = 3) -> tuple[float, list[float]]:
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return round(sorted(ts)[len(ts) // 2], 3), [round(t, 3) for t in ts]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=None,
                    help="query names (default: all)")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory to dump explain('formatted') files into")
    ap.add_argument("--suffix", default="before",
                    help="plan filename suffix (before/after)")
    ap.add_argument("--xxhash-lane", action="store_true",
                    help="also time the bench.py xxhash production lane "
                         "for the selected names")
    ap.add_argument("--no-time", action="store_true",
                    help="plans only, skip the timed runs")
    ap.add_argument("--out", default=None, help="write JSON result here too")
    args = ap.parse_args()

    import bench
    import __spark_entry__ as entry_mod
    from fluvio_jolt_spark.plans.session import build_session

    spark = build_session(app_name="fjs-bench-extra", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS)
    qs = entry_mod.queries()
    names = args.queries or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    if args.plans:
        plans_dir = Path(args.plans)
        plans_dir.mkdir(parents=True, exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (plans_dir / f"{name}_{args.suffix}.txt").write_text(txt)
        print(f"wrote {len(names)} plans to {args.plans}", file=sys.stderr)

    result: dict = {"sf_dir": SF_DIR, "cpus": CPUS, "runs": args.runs,
                    "queries": {}, "samples": {}}
    if not args.no_time:
        bench._warm_query_session(spark, SF_DIR)
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            med, samples = _median_run(
                lambda n=name: qs[n](spark, SF_DIR)
                .write.format("noop").mode("overwrite").save(),
                args.runs,
            )
            result["queries"][name] = med
            result["samples"][name] = samples
            print(f"{name}: {med} {samples}", file=sys.stderr)
        if args.xxhash_lane:
            lane = bench.bench_lsh_production_lane(spark, SF_DIR, runs=args.runs)
            result["queries_xxhash_lane"] = lane
            print(f"xxhash lane: {lane}", file=sys.stderr)

    spark.stop()
    line = json.dumps(result)
    print(line)
    if args.out:
        Path(args.out).write_text(line)


if __name__ == "__main__":
    main()
