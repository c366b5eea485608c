"""As-of join: window-variant vs merge_asof cross-check, tie semantics,
zero-leakage, and plan shape (no join node, one shuffle)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fluvio_jolt_spark.operators.asof import (
    asof_join,
    asof_join_bucketed,
    asof_join_salted,
)


@pytest.fixture(scope="module")
def joined(spark, transcripts_small):
    left, right = transcripts_small
    out = asof_join(left, right, on="ts", right_on="snap_ts", by="conv_id")
    return left, right, out.toPandas()


def _oracle_merge_asof(lpdf, rpdf, allow_exact=True):
    lpdf = lpdf.sort_values("ts", kind="mergesort")
    frames = []
    for conv, lg in lpdf.groupby("conv_id", sort=False):
        rg = rpdf[rpdf.conv_id == conv].sort_values("snap_ts", kind="mergesort")
        if rg.empty:
            lg = lg.copy()
            lg["attr_value"] = float("nan")
            frames.append(lg)
            continue
        merged = pd.merge_asof(
            lg.sort_values("ts"),
            rg[["snap_ts", "attr_value"]],
            left_on="ts",
            right_on="snap_ts",
            direction="backward",
            allow_exact_matches=allow_exact,
        ).drop(columns=["snap_ts"])
        frames.append(merged)
    return pd.concat(frames, ignore_index=True)


def test_asof_matches_pandas_oracle(joined):
    left, right, got = joined
    want = _oracle_merge_asof(left.toPandas(), right.toPandas())
    key = ["conv_id", "turn_idx"]
    got_s = got.sort_values(key, kind="mergesort").reset_index(drop=True)
    want_s = want.sort_values(key, kind="mergesort").reset_index(drop=True)
    assert len(got_s) == len(want_s) == left.count()
    ga = got_s["attr_value"].astype(float)
    wa = want_s["attr_value"].astype(float)
    assert ((ga.isna() & wa.isna()) | (abs(ga - wa) < 1e-9)).all()


def test_asof_zero_leakage(joined, spark):
    """No joined attr_value may come from a snapshot later than the turn."""
    left, right, got = joined
    rpdf = right.toPandas()
    lookup = {}
    for conv, g in rpdf.groupby("conv_id"):
        lookup[conv] = g.sort_values("snap_ts")
    for _, row in got[got.attr_value.notna()].iterrows():
        g = lookup[row.conv_id]
        legal = g[g.snap_ts <= row.ts]["attr_value"].tolist()
        assert row.attr_value in legal, f"leaked value at {row.conv_id}/{row.turn_idx}"


def test_asof_exact_tie_joins(spark):
    lpdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 3,
            "turn_idx": [0, 1, 2],
            "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 00:20"]),
        }
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1"],
            "snap_ts": pd.to_datetime(["2024-01-01 00:10", "2024-01-01 00:30"]),
            "attr_value": [1.5, 9.9],
        }
    )
    left, right = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    got = (
        asof_join(left, right)
        .orderBy("turn_idx")
        .toPandas()["attr_value"]
        .tolist()
    )
    # <= semantics: the 00:10 turn sees the 00:10 snapshot; 00:30 never joins
    assert pd.isna(got[0]) and got[1] == 1.5 and got[2] == 1.5

    strict = (
        asof_join(left, right, strict=True)
        .orderBy("turn_idx")
        .toPandas()["attr_value"]
        .tolist()
    )
    assert pd.isna(strict[0]) and pd.isna(strict[1]) and strict[2] == 1.5


@pytest.mark.parametrize("chunk_rows", [7, 64])
def test_asof_salted_equals_unsalted(spark, transcripts_small, chunk_rows):
    """Chunked as-of join must be value-identical to the plain window
    variant at aggressive chunk sizes (every conversation splits)."""
    left, right = transcripts_small
    a = asof_join(left, right).toPandas()
    b = asof_join_salted(left, right, chunk_rows=chunk_rows).toPandas()
    key = ["conv_id", "turn_idx"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    av, bv = a["attr_value"].astype(float), b["attr_value"].astype(float)
    bad = ~((av.isna() & bv.isna()) | (abs(av - bv) < 1e-9))
    assert not bad.any(), a[bad].head().to_string() + "\n---\n" + b[bad].head().to_string()


@pytest.mark.parametrize("strict", [False, True])
def test_asof_salted_tie_semantics(spark, strict):
    lpdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 4,
            "turn_idx": [0, 1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 00:20", "2024-01-01 00:30"]
            ),
        }
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1"],
            "snap_ts": pd.to_datetime(["2024-01-01 00:10", "2024-01-01 00:25"]),
            "attr_value": [1.5, 7.5],
        }
    )
    left, right = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    want = asof_join(left, right, strict=strict).orderBy("turn_idx").toPandas()["attr_value"]
    got = (
        asof_join_salted(left, right, chunk_rows=2, strict=strict)
        .orderBy("turn_idx")
        .toPandas()["attr_value"]
    )
    assert ((want.isna() & got.isna()) | (want == got)).all(), (want.tolist(), got.tolist())


def test_asof_salted_bounds_partitions(spark, transcripts_small):
    """No window partition in the salted variant may exceed chunk_rows
    left rows + the rights assigned to that chunk."""
    left, right = transcripts_small
    from pyspark.sql import functions as F

    chunk_rows = 64
    chunked = left.withColumn("_chunk", (F.col("turn_idx") / chunk_rows).cast("long"))
    biggest = (
        chunked.groupBy("conv_id", "_chunk").count().agg(F.max("count")).collect()[0][0]
    )
    assert biggest <= chunk_rows


def test_asof_plan_no_join_single_shuffle(spark, transcripts_small):
    left, right = transcripts_small
    out = asof_join(left, right)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


@pytest.mark.parametrize("strict", [False, True])
def test_asof_salted_boundary_tie_no_leak(spark, strict):
    """A snapshot exactly at a chunk's max ts, with a NEXT-chunk left row
    at the same ts: strict mode must not serve it via carry-in (the
    cross-chunk coalesce has no priority guard, so chunk assignment has
    to push the tied snapshot into the next chunk when strict)."""
    lpdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 4,
            "turn_idx": [0, 1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 00:10", "2024-01-01 00:20"]
            ),
        }
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": ["c1"],
            "snap_ts": pd.to_datetime(["2024-01-01 00:10"]),
            "attr_value": [9.5],
        }
    )
    left, right = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    want = asof_join(left, right, strict=strict).orderBy("turn_idx").toPandas()["attr_value"]
    got = (
        asof_join_salted(left, right, chunk_rows=2, strict=strict)
        .orderBy("turn_idx")
        .toPandas()["attr_value"]
    )
    assert ((want.isna() & got.isna()) | (want == got)).all(), (want.tolist(), got.tolist())
    if strict:
        # turns 1 and 2 share the snapshot's ts → must be null under <
        assert got.isna()[:3].all() and got[3] == 9.5


def test_asof_duplicate_right_ties_deterministic(spark):
    """Duplicate right rows at identical (by, snap_ts): the window and
    salted variants pick the same deterministic value (the max at the
    tied timestamp)."""
    lpdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1"],
            "turn_idx": [0, 1],
            "ts": pd.to_datetime(["2024-01-01 00:10", "2024-01-01 00:20"]),
        }
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 3,
            "snap_ts": pd.to_datetime(["2024-01-01 00:05"] * 3),
            "attr_value": [3.0, 9.0, 6.0],
        }
    )
    left, right = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    for fn, kw in [
        (asof_join, {}),
        (asof_join_salted, {"chunk_rows": 1}),
    ]:
        vals = fn(left, right, **kw).orderBy("turn_idx").toPandas()["attr_value"]
        assert (vals == 9.0).all(), (fn.__name__, vals.tolist())


def test_asof_multi_value_col_ties_agree(spark):
    """2+ value columns with duplicate right rows at one (by, snap_ts):
    ALL variants must take every value column from the SAME tied right
    row (the row that is max by (ts, *value_cols)), with per-column
    ignorenulls fallback when that row has a NULL — not independent
    per-column maxima. Regression test for the salted carry-in /
    bucketed max_by divergence (round-2 ADVICE)."""
    lpdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 3,
            "turn_idx": [0, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 00:20"]
            ),
        }
    )
    # tied rows at 00:05; max by (ts, a, b) is (a=2.0, b=None):
    # per-column ignorenulls → a=2.0, b falls back to 3.0 (NOT 9.0,
    # which an independent max_by(b, (ts, b)) would return)
    rpdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 3,
            "snap_ts": pd.to_datetime(["2024-01-01 00:05"] * 3),
            "a": [1.0, 2.0, 1.5],
            "b": [9.0, None, 3.0],
        }
    )
    left, right = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    want = asof_join(left, right).orderBy("turn_idx").toPandas()
    # turn 0 (00:00) precedes every snapshot → unfilled
    assert pd.isna(want["a"].iloc[0]) and want["a"].tolist()[1:] == [2.0, 2.0]
    assert pd.isna(want["b"].iloc[0]) and want["b"].tolist()[1:] == [3.0, 3.0]

    def same(x, y):
        return ((x.isna() & y.isna()) | (x == y)).all()

    for fn, kw in [
        (asof_join_salted, {"chunk_rows": 1}),
        (asof_join_bucketed, {}),
    ]:
        got = fn(left, right, **kw).orderBy("turn_idx").toPandas()
        assert same(got["a"], want["a"]), (fn.__name__, got["a"].tolist())
        assert same(got["b"], want["b"]), (fn.__name__, got["b"].tolist())


def test_asof_bucketed_null_entity_keys(spark):
    """NULL conv_id: asof_join's window groups NULL keys together;
    bucketed's default equi-join leaves them unfilled (documented caller
    contract); null_safe=True restores the window behavior."""
    lpdf = pd.DataFrame(
        {
            "conv_id": [None, "c1"],
            "turn_idx": [0, 0],
            "ts": pd.to_datetime(["2024-01-01 00:10", "2024-01-01 00:10"]),
        }
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": [None, "c1"],
            "snap_ts": pd.to_datetime(["2024-01-01 00:05"] * 2),
            "attr_value": [5.0, 7.0],
        }
    )
    left, right = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    win = asof_join(left, right).orderBy("conv_id").toPandas()["attr_value"]
    assert win.tolist() == [5.0, 7.0]  # NULL key filled from NULL-key right
    default = (
        asof_join_bucketed(left, right).orderBy("conv_id").toPandas()["attr_value"]
    )
    assert pd.isna(default.iloc[0]) and default.iloc[1] == 7.0
    safe = (
        asof_join_bucketed(left, right, null_safe=True)
        .orderBy("conv_id")
        .toPandas()["attr_value"]
    )
    assert safe.tolist() == win.tolist()


def test_asof_salted_left_narrow_equivalent(spark, transcripts_small):
    """left_narrow (cheap metadata source) must not change any value."""
    from fluvio_jolt_spark.operators.window_features import with_turn_features

    turns, snaps = transcripts_small
    narrow = turns.select("conv_id", "turn_idx", "role", "tool", "ts")
    feats = with_turn_features(narrow)
    base = asof_join_salted(
        feats, snaps, on="ts", right_on="snap_ts", by="conv_id", chunk_rows=64
    )
    hinted = asof_join_salted(
        feats, snaps, on="ts", right_on="snap_ts", by="conv_id", chunk_rows=64,
        left_narrow=narrow,
    )
    cols = sorted(base.columns)
    a = {(r["conv_id"], r["turn_idx"]): tuple(r[c] for c in cols) for r in base.collect()}
    b = {(r["conv_id"], r["turn_idx"]): tuple(r[c] for c in cols) for r in hinted.collect()}
    assert a == b


def test_asof_tolerance_staleness_bound(spark):
    """tolerance_s discards matches older than the bound: fresh match
    kept, boundary-exact match kept (inclusive), stale match NULLed,
    never-matched stays NULL — and rows after a NEWER snapshot recover."""
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a"] * 4 + ["b"],
                "ts": pd.to_datetime(
                    [
                        "2024-01-01 00:00:30",  # 30s after snap1: fresh
                        "2024-01-01 00:01:00",  # exactly 60s: boundary, kept
                        "2024-01-01 00:10:00",  # 600s: stale -> NULL
                        "2024-01-01 00:20:10",  # 10s after snap2: fresh again
                        "2024-01-01 00:00:45",  # user b: no snapshot ever
                    ]
                ),
                "i": [0, 1, 2, 3, 4],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a"],
                "snap_ts": pd.to_datetime(
                    ["2024-01-01 00:00:00", "2024-01-01 00:20:00"]
                ),
                "v": [10.0, 20.0],
            }
        )
    )
    out = (
        asof_join(left, right, on="ts", right_on="snap_ts", by="k", tolerance_s=60.0)
        .toPandas()
        .set_index("i")["v"]
    )
    assert out[0] == 10.0
    assert out[1] == 10.0          # inclusive boundary
    assert pd.isna(out[2])         # stale
    assert out[3] == 20.0          # newer snapshot re-qualifies
    assert pd.isna(out[4])         # no match at all
    # without tolerance the stale row keeps its value
    base = (
        asof_join(left, right, on="ts", right_on="snap_ts", by="k")
        .toPandas().set_index("i")["v"]
    )
    assert base[2] == 10.0


# ------------------------------------------- direction=forward/nearest


def _direction_oracle(lpdf, rpdf, direction, allow_exact=True, tol=None):
    """pandas merge_asof per group; right side pre-sorted by
    (snap_ts, value) so pandas' duplicate-ts pick (last for backward,
    first for forward) matches the engine's deterministic tiebreak
    (max for backward, min for forward)."""
    frames = []
    for conv, lg in lpdf.groupby("conv_id", sort=False):
        rg = rpdf[rpdf.conv_id == conv].sort_values(
            ["snap_ts", "attr_value"], kind="mergesort"
        )
        lg = lg.sort_values("ts", kind="mergesort")
        if rg.empty:
            m = lg.copy()
            m["attr_value"] = float("nan")
        else:
            kw = dict(
                left_on="ts", right_on="snap_ts", direction=direction,
                allow_exact_matches=allow_exact,
            )
            if tol is not None:
                kw["tolerance"] = pd.Timedelta(seconds=tol)
            m = pd.merge_asof(
                lg, rg[["snap_ts", "attr_value"]], **kw
            ).drop(columns=["snap_ts"])
        frames.append(m)
    return (
        pd.concat(frames)
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def direction_frames(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    n_l, n_r = 400, 120
    lp = pd.DataFrame(
        {
            "conv_id": rng.choice(["a", "b", "c", "d"], n_l),
            "turn_idx": np.arange(n_l),
            "ts": pd.to_datetime(rng.integers(0, 1000, n_l), unit="s", utc=True),
        }
    )
    rp = pd.DataFrame(
        {
            "conv_id": rng.choice(["a", "b", "c", "e"], n_r),
            "snap_ts": pd.to_datetime(rng.integers(0, 1000, n_r), unit="s", utc=True),
            "attr_value": rng.integers(0, 50, n_r).astype("int64"),
        }
    )
    # force an exact left-ts == right-ts tie so strictness is exercised
    rp.loc[0, ["conv_id", "snap_ts"]] = ["a", lp.ts.iloc[0]]
    return lp, rp, spark.createDataFrame(lp), spark.createDataFrame(rp)


@pytest.mark.parametrize("direction", ["forward", "nearest"])
@pytest.mark.parametrize("strict", [False, True])
@pytest.mark.parametrize("tol", [None, 100.0])
def test_asof_direction_matches_pandas(direction_frames, direction, strict, tol):
    lp, rp, l, r = direction_frames
    got = (
        asof_join(l, r, strict=strict, tolerance_s=tol, direction=direction)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    want = _direction_oracle(lp, rp, direction, allow_exact=not strict, tol=tol)
    g = got["attr_value"].astype("Float64")
    w = want["attr_value"].astype("Float64")
    assert len(g) == len(w) == len(lp)
    assert ((g.isna() & w.isna()) | (g == w)).all()


def test_asof_nearest_tie_prefers_backward(spark):
    """Equidistant earlier/later snapshots: the earlier one wins (pandas
    nearest semantics)."""
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "ts": pd.to_datetime(["2024-01-01 00:00:10"]),
                      "i": [0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({
            "k": ["a", "a"],
            "snap_ts": pd.to_datetime(["2024-01-01 00:00:05", "2024-01-01 00:00:15"]),
            "v": [1.0, 2.0],
        })
    )
    out = asof_join(left, right, on="ts", right_on="snap_ts", by="k",
                    direction="nearest").toPandas()
    assert out["v"].iloc[0] == 1.0


def test_asof_direction_plan_single_shuffle(spark, transcripts_small):
    """forward keeps the backward plan shape (no join node, one
    exchange); nearest pays ONE exchange and two window sorts."""
    left, right = transcripts_small
    for direction, max_sorts in (("forward", 1), ("nearest", 2)):
        out = asof_join(left, right, on="ts", right_on="snap_ts",
                        by="conv_id", direction=direction)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan.replace("Joined", ""), direction
        n_ex = plan.count("Exchange hashpartitioning")
        assert n_ex == 1, f"{direction}: {n_ex} exchanges"


def test_asof_invalid_direction_raises(spark, transcripts_small):
    left, right = transcripts_small
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, direction="sideways")


# ------------------------------------------------------- scd2_intervals


def test_scd2_chain_invariants(spark):
    """Per entity: versions are 1..n in ts order, consecutive intervals
    abut exactly (valid_to == next valid_from), exactly one open
    current row."""
    from fluvio_jolt_spark.operators.asof import scd2_intervals

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = scd2_intervals(ev).select(
        "user_id", "version", "valid_from_us", "valid_to_us", "is_current"
    ).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for rows in by_user.values():
        rows.sort(key=lambda r: r.version)
        assert [r.version for r in rows] == list(range(1, len(rows) + 1))
        assert sum(r.is_current for r in rows) == 1
        assert rows[-1].is_current and rows[-1].valid_to_us is None
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to_us == b.valid_from_us
            assert a.valid_from_us <= a.valid_to_us


def test_scd2_single_window_shuffle(spark):
    """lead and row_number share one Exchange + one Sort."""
    from fluvio_jolt_spark.operators.asof import scd2_intervals

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = scd2_intervals(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_scd2_asof_consistency(spark):
    """Point-in-time lookup through the intervals (BETWEEN semantics)
    equals the as-of join's last-value-<= semantics on the same
    stream — the SCD2 table and the as-of operator must agree."""
    from fluvio_jolt_spark.operators.asof import scd2_intervals

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    iv = scd2_intervals(ev)
    probe_us = int(
        ev.agg(F.percentile_approx(F.unix_micros("ts"), 0.5)).first()[0]
    )
    via_intervals = {
        r.user_id: r.version
        for r in iv.filter(
            (F.col("valid_from_us") <= probe_us)
            & (F.col("valid_to_us").isNull() | (F.col("valid_to_us") > probe_us))
        ).collect()
    }
    via_window = {
        r.user_id: r.version
        for r in iv.filter(F.col("valid_from_us") <= probe_us)
        .groupBy("user_id")
        .agg(F.max("version").alias("version"))
        .collect()
    }
    assert via_intervals == via_window and via_intervals
