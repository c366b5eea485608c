"""Self-check of the benchmark at a tiny scale (20,000 flagship turns,
5,000 feature-job turns, the registry tables cut to their sf0.001 row
counts):

    python3 perfbench/selfcheck.py

Runs every workload untraced and traced, checks that each run is
correct and prints every metric with its unit and that the traced run
writes its span file, then plants a wrong expected output in each
workload and checks that the failed fraction rises above 0. Exits 1 on
the first broken expectation.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

TINY_ROWS = {"documents": 500, "embeddings": 500, "events": 1_000}


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        raise SystemExit(1)


def tiny_tables(src: Path, dst: Path) -> Path:
    """The first rows of each registry table, as many as the sf0.001
    scale has."""
    import pyarrow.parquet as pq

    dst.mkdir(parents=True, exist_ok=True)
    for name, rows in TINY_ROWS.items():
        table = pq.read_table(src / f"{name}.parquet").slice(0, rows)
        pq.write_table(table, dst / f"{name}.parquet")
    return dst


def main() -> int:
    harness.prepare_env()
    import registry
    import run
    import transcripts

    transcripts.FLAGSHIP_TURNS = 20_000
    transcripts.FEATURE_JOB_TURNS = 5_000
    registry.DATA = tiny_tables(registry.DATA, harness.WORK / "tiny")
    for name in ("flagship", "registry"):
        metrics, detail, attempted, failed = run.end_to_end(name, seed=1, seconds=1)
        expect(failed == 0 and attempted > 0, f"{name}: {attempted} operations, none failed")
        expect(set(metrics) == set(run.END_TO_END_UNITS) and all(v > 0 for v in metrics.values()),
               f"{name}: every end-to-end metric present and non-zero")
        metrics, detail, attempted, failed = run.traced(name, seed=1, seconds=1)
        expect(failed == 0, f"{name} traced: none of {attempted} operations failed")
        expect(set(metrics) == set(run.PER_LAYER_UNITS), f"{name} traced: every per-layer metric present")
        expect((harness.ROOT / detail["span_file"]).stat().st_size > 0, f"{name} traced: span file written")

    for cls in (transcripts.Flagship, registry.Registry):
        cls.planted = True
    for name in ("flagship", "registry"):
        _, _, attempted, failed = run.end_to_end(name, seed=1, seconds=1)
        expect(failed / attempted > 0,
               f"{name}: planted wrong expectation fails {failed}/{attempted} operations")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
