"""Import guard for the timing scripts kept at the repo root: `bench.py`,
`bench_extra.py` and `BENCH/gen_plans.py` are not imported by the
package, so a broken edit to them would otherwise go unnoticed."""

from __future__ import annotations

from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_bench_scripts_import_and_keep_shared_names():
    import bench
    import bench_extra

    assert callable(bench_extra.main)
    # names other files use (tests/test_features.py, bench_extra.py)
    for name in ("run_flagship_frames", "build_flagship_frame",
                 "_warm_query_session", "bench_lsh_production_lane",
                 "_membw_ceiling"):
        assert callable(getattr(bench, name, None)), name
    # gen_plans runs a Spark job at import, so only byte-compile it
    path = REPO / "BENCH" / "gen_plans.py"
    compile(path.read_text(), str(path), "exec")
