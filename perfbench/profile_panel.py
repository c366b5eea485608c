"""The per-query profile the registry panel is chosen from:

    python3 perfbench/profile_panel.py TABLE_DIR OUT.json [--passes 3]

Runs every ``__spark_entry__.queries()`` query, and the xxhash lane call
the registry workload times, over the driver tables in TABLE_DIR (the
sf0.1 scale for the committed panel) on the benchmark's local[4]
session, into the noop sink, `--passes` times in registry order. Writes,
per query, its pass times, the operator modules its function imports,
and, from the Spark event log of the last pass, its job count and its
round-robin (fan_out) exchanges.
"""

from __future__ import annotations

import argparse
import inspect
import json
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("table_dir")
    p.add_argument("out")
    p.add_argument("--passes", type=int, default=3)
    args = p.parse_args(argv)

    harness.prepare_env()
    import __spark_entry__ as em
    import registry

    queries = em.queries()
    queries["xxhash_lane"] = registry.lsh_jaccard_xxhash
    result = {}
    for name, fn in queries.items():
        mods = re.findall(r"fluvio_jolt_spark\.operators\.(\w+)", inspect.getsource(fn))
        result[name] = {"modules": sorted(set(mods)), "pass_s": []}

    event_dir = harness.WORK / "events" / f"profile-{int(time.time())}"
    tracer = harness.Tracer(enabled=True)
    spark = harness.start_session(event_dir=event_dir)
    tracer.attach(spark.sparkContext)
    try:
        for t in TABLES:
            if (Path(args.table_dir) / f"{t}.parquet").exists():
                harness.noop(em._read(spark, args.table_dir, t))
        for i in range(args.passes):
            for name, fn in queries.items():
                with tracer.span(f"p{i}.{name}"):
                    t = harness.timed(lambda: harness.noop(fn(spark, args.table_dir)))
                result[name]["pass_s"].append(t)
    finally:
        spark.stop()
        harness.stop_jvm()
    logs = harness.read_event_logs(event_dir)
    for name in queries:
        sm = harness.spark_metrics([logs.get(f"p{args.passes - 1}.{name}", harness.EMPTY)])
        result[name].update(jobs=sm["jobs"], repartitions=sm["repartitions"])
    Path(args.out).write_text(json.dumps(result, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
