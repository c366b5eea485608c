"""Window feature parity vs a pandas oracle + the zero-leakage gate."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fluvio_jolt_spark.operators.window_features import (
    SESSION_GAP_S,
    backfill,
    with_turn_features,
)


@pytest.fixture(scope="module")
def features_pdf(spark, transcripts_small):
    df, _ = transcripts_small
    out = with_turn_features(df, rolling_k=5)
    return out.toPandas(), df.toPandas()


def _oracle(tdf: pd.DataFrame, rolling_k: int = 5) -> pd.DataFrame:
    tdf = tdf.sort_values(["conv_id", "turn_idx", "ts"], kind="mergesort").copy()
    g = tdf.groupby("conv_id", sort=False)
    tdf["prev_ts"] = g["ts"].shift(1)
    tdf["inter_turn_s"] = (tdf["ts"] - tdf["prev_ts"]).dt.total_seconds()
    tdf["prev_role"] = g["role"].shift(1)
    tdf["role_alternated"] = np.where(
        tdf["prev_role"].isna(), None, tdf["role"] != tdf["prev_role"]
    )
    tdf["is_tool_call"] = ((tdf["tool"].notna()) & (tdf["tool"] != "")).astype(int)
    tdf["tool_calls_last_k"] = (
        tdf.groupby("conv_id", sort=False)["is_tool_call"]
        .rolling(rolling_k, min_periods=1)
        .sum()
        .reset_index(level=0, drop=True)
    )
    tdf["tool_calls_cum"] = g["is_tool_call"].cumsum()
    tdf["session_break"] = (tdf["inter_turn_s"] > SESSION_GAP_S).astype(int)
    tdf["session_id"] = tdf.groupby("conv_id", sort=False)["session_break"].cumsum()
    tdf["turn_in_session"] = tdf.groupby(["conv_id", "session_id"], sort=False).cumcount()
    return tdf


def test_feature_parity_with_pandas_oracle(features_pdf):
    got, raw = features_pdf
    want = _oracle(raw)
    got = got.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    want = want.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)

    assert len(got) == len(want)
    pd.testing.assert_series_equal(
        got["inter_turn_s"], want["inter_turn_s"], check_names=False
    )
    assert (got["tool_calls_last_k"].to_numpy() == want["tool_calls_last_k"].to_numpy()).all()
    assert (got["tool_calls_cum"].to_numpy() == want["tool_calls_cum"].to_numpy()).all()
    assert (got["session_id"].to_numpy() == want["session_id"].to_numpy()).all()
    assert (got["turn_in_session"].to_numpy() == want["turn_in_session"].to_numpy()).all()
    # role_alternated: compare with None-tolerant equality
    ga = got["role_alternated"].to_numpy(dtype=object)
    wa = want["role_alternated"].to_numpy(dtype=object)
    assert all((a is None and b is None) or bool(a) == bool(b) for a, b in zip(ga, wa))


def test_sessionization_produces_multiple_sessions(spark, features_pdf):
    got, _ = features_pdf
    assert got["session_id"].max() >= 1, "generator should produce multi-session conversations"

    # hand input the generator never makes: gaps on both sides of the
    # threshold, and one turn whose ts jitters BACKWARD before its
    # predecessor (a negative gap, so no break)
    rng = np.random.default_rng(23)
    rows = []
    for conv in ("c0", "c1", "c2"):
        t = rng.uniform(0, 1000)
        for i in range(16):
            t += float(rng.choice([30.0, 120.0, 2000.0], p=[0.5, 0.3, 0.2]))
            rows.append((conv, i, "user" if i % 2 else "assistant", "", t))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "tool", "ep"])
    jittered = (pdf.conv_id == "c1") & (pdf.turn_idx == 7)
    pdf.loc[jittered, "ep"] = (
        float(pdf.loc[(pdf.conv_id == "c1") & (pdf.turn_idx == 6), "ep"].iloc[0]) - 5.0
    )
    pdf["ts"] = pd.to_datetime((pdf.pop("ep") * 1e6).astype("int64"), unit="us")
    key = ["conv_id", "turn_idx"]
    got = (
        with_turn_features(spark.createDataFrame(pdf))
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    want = _oracle(pdf).sort_values(key).reset_index(drop=True)
    pd.testing.assert_series_equal(
        got["inter_turn_s"], want["inter_turn_s"], check_names=False
    )
    assert list(got["session_id"]) == list(want["session_id"])
    assert list(got["turn_in_session"]) == list(want["turn_in_session"])
    assert got["session_id"].max() >= 1


def test_zero_leakage_backward_features(features_pdf):
    """No backward feature may depend on rows with a later (turn_idx, ts).
    Structural check: recompute on a truncated prefix of each conversation
    and require identical values on the prefix."""
    got, raw = features_pdf
    conv = got["conv_id"].iloc[0]
    full = got[got.conv_id == conv].sort_values("turn_idx")
    if len(full) < 6:
        pytest.skip("conversation too short")
    cut = len(full) // 2
    prefix_raw = raw[(raw.conv_id == conv) & (raw.turn_idx < full.turn_idx.iloc[cut])]
    want = _oracle(prefix_raw.copy())
    back_cols = [
        "inter_turn_s",
        "tool_calls_last_k",
        "tool_calls_cum",
        "session_id",
        "turn_in_session",
    ]
    sub = full.iloc[:cut][back_cols].reset_index(drop=True)
    ora = want.sort_values("turn_idx")[back_cols].reset_index(drop=True)
    for c in back_cols:
        a, b = sub[c].to_numpy(), ora[c].to_numpy()
        mask = ~(pd.isna(a) & pd.isna(b))
        assert (a[mask] == b[mask]).all(), f"leakage in {c}"


def test_lead_features_are_explicit(features_pdf):
    got, _ = features_pdf
    lead_cols = [c for c in got.columns if c.startswith("lead_")]
    assert set(lead_cols) == {"lead_ts", "lead_role"}


def test_backfill_forward(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 5,
            "turn_idx": range(5),
            "ts": pd.date_range("2024-01-01", periods=5, freq="min"),
            "v": [None, "a", None, None, "b"],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        backfill(df, "v")
        .orderBy("turn_idx")
        .select("v_filled")
        .toPandas()["v_filled"]
        .tolist()
    )
    assert out == [None, "a", "a", "a", "b"]


def test_backfill_backward(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 4,
            "turn_idx": range(4),
            "ts": pd.date_range("2024-01-01", periods=4, freq="min"),
            "v": [None, "a", None, "b"],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        backfill(df, "v", direction="backward")
        .orderBy("turn_idx")
        .select("v_filled")
        .toPandas()["v_filled"]
        .tolist()
    )
    assert out == ["a", "a", "b", "b"]


def test_single_shuffle_for_feature_set(spark, transcripts_small):
    """All backward windows share partitionBy(conv_id): the physical plan
    must contain exactly ONE exchange for the conv_id windows plus one for
    the (conv_id, session_id) row_number — no more."""
    df, _ = transcripts_small
    out = with_turn_features(df, include_leads=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"too many shuffles ({n_exchanges}):\n{plan}"


def test_encoded_flagship_parity(spark, transcripts_small, tmp_path):
    """bench.run_flagship_frames (the shuffle-byte-reduced encoded plan:
    long conv keys, dictionary roles, pre-extracted tool names) must
    produce value-identical output to the plain un-encoded composition,
    on BOTH the unsalted and the salted (chunk-seam) paths."""
    import sys

    sys.path.insert(0, "/root/repo")
    import bench
    from fluvio_jolt_spark.operators.asof import asof_join
    from fluvio_jolt_spark.operators.reshape import jolt_reshape, reference_bench_spec

    turns, snaps = transcripts_small

    def plain(out_dir):
        narrow = turns.select("conv_id", "turn_idx", "role", "tool", "ts")
        feats = with_turn_features(narrow)
        feats = asof_join(feats, snaps, on="ts", right_on="snap_ts", by="conv_id")
        payload = jolt_reshape(
            turns.select("conv_id", "turn_idx", "text"), reference_bench_spec(),
            columns="text",
        )
        payload.join(feats.hint("SHUFFLE_HASH"), ["conv_id", "turn_idx"]).write.mode(
            "overwrite"
        ).parquet(out_dir)

    def normalize(path):
        pdf = spark.read.parquet(path).toPandas()
        cols = sorted(pdf.columns)
        return (
            pdf[cols]
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
            .astype(str)
        )

    plain(str(tmp_path / "plain"))
    # unsalted path (max conv << 4*chunk_rows)
    bench.run_flagship_frames(spark, turns, snaps, str(tmp_path / "enc"))
    a, b = normalize(str(tmp_path / "plain")), normalize(str(tmp_path / "enc"))
    assert list(a.columns) == list(b.columns)
    assert a.equals(b), (a.compare(b).head() if a.shape == b.shape else (a.shape, b.shape))

    # salted path: tiny chunk_rows forces chunk seams through every conv
    bench.run_flagship_frames(spark, turns, snaps, str(tmp_path / "enc_salted"), chunk_rows=64)
    c = normalize(str(tmp_path / "enc_salted"))
    assert a.equals(c), (a.compare(c).head() if a.shape == c.shape else (a.shape, c.shape))


def test_interval_join_binned_equivalence_and_plan(spark):
    """Bin-blocked range join must (a) return exactly the rows the
    naive BETWEEN predicate returns — including boundary points,
    intervals spanning many bins, and points in no/two intervals —
    and (b) plan as an EQUI join: no BroadcastNestedLoopJoin /
    CartesianProduct anywhere."""
    import pandas as pd

    from fluvio_jolt_spark.operators.interval_join import interval_join_binned

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": range(6),
                "ts": pd.to_datetime(
                    [
                        "2024-01-01 00:00:00",  # exactly at a start
                        "2024-01-01 00:59:59",
                        "2024-01-01 01:00:00",  # exactly at an end
                        "2024-01-01 05:30:00",  # inside the long interval only
                        "2024-01-02 00:00:00",  # in no interval
                        "2024-01-01 00:30:00",  # in two overlapping intervals
                    ]
                ),
            }
        )
    )
    ivs = spark.createDataFrame(
        pd.DataFrame(
            {
                "iid": [0, 1, 2],
                "start": pd.to_datetime(
                    ["2024-01-01 00:00:00", "2024-01-01 00:15:00", "2024-01-01 00:00:00"]
                ),
                "end": pd.to_datetime(
                    ["2024-01-01 01:00:00", "2024-01-01 00:45:00", "2024-01-01 08:00:00"]
                ),
            }
        )
    )
    got = interval_join_binned(pts, ivs, point_col="ts", bin_width_s=1800)
    naive = pts.join(
        ivs, (pts.ts >= ivs.start) & (pts.ts <= ivs.end)
    )
    key = lambda df: sorted((r["pid"], r["iid"]) for r in df.collect())
    assert key(got) == key(naive)
    assert (4, 0) not in key(got)  # no-interval point absent
    assert key(got).count((5, 0)) == 1 and (5, 1) in key(got)  # overlap: both

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan, plan[:1500]
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in naive_plan or "Cartesian" in naive_plan

    # entity-scoped intervals (``by``): each turn opens [ts, ts + 300 s]
    # on its own conversation only. too_late (after c1's window),
    # before (before c2's) and other_conv (no such conversation) all
    # fall inside some other conversation's window and must not match.
    def at(s):
        return pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)

    turns = spark.createDataFrame(
        pd.DataFrame(
            [
                ("c0", 0, at(0), at(300)),
                ("c0", 1, at(400), at(700)),
                ("c1", 0, at(50), at(350)),
                ("c2", 0, at(100), at(400)),
            ],
            columns=["conv_id", "turn_idx", "start", "end"],
        )
    )
    events = spark.createDataFrame(
        pd.DataFrame(
            [
                ("c0", "tool_ok", at(120)),
                ("c0", "tool_ok2", at(430)),
                ("c1", "late_but_in", at(340)),
                ("c1", "too_late", at(400)),
                ("c2", "before", at(80)),
                ("c9", "other_conv", at(60)),
            ],
            columns=["conv_id", "ev_name", "ts"],
        )
    )
    keyed = interval_join_binned(events, turns, by=["conv_id"], bin_width_s=120)
    assert sorted((r.conv_id, r.turn_idx, r.ev_name) for r in keyed.collect()) == [
        ("c0", 0, "tool_ok"),
        ("c0", 1, "tool_ok2"),
        ("c1", 0, "late_but_in"),
    ]


# ---------------------------------------------------------------- decayed sum


def _decay_bruteforce(pdf: pd.DataFrame, tau: float, value_col=None):
    """O(n^2) reference: only NEGATIVE exp arguments, so no overflow at
    any span — valid oracle for both operator variants."""
    out = []
    for _, g in pdf.groupby("pk", sort=False):
        g = g.sort_values("ep", kind="mergesort")
        ep = g["ep"].to_numpy()
        v = (
            g[value_col].to_numpy(dtype=float)
            if value_col
            else np.ones(len(g))
        )
        for i in range(len(g)):
            mask = ep <= ep[i]  # RANGE frame: ties included
            w = np.exp((ep[mask] - ep[i]) / tau)
            vals = v[mask]
            ok = ~np.isnan(vals)
            # SQL SUM over an all-NULL frame is NULL, not 0
            res = float(np.sum(w[ok] * vals[ok])) if ok.any() else None
            out.append((g["rid"].iloc[i], res))
    return dict(out)


def _decay_frame(spark, n=400, span_s=2_000_000.0, seed=7, n_pk=5):
    rng = np.random.default_rng(seed)
    ep = np.sort(rng.uniform(0, span_s, n))
    # quantize to whole microseconds: the ts column truncates there, and
    # the brute-force oracle must see the identical epoch values
    ep = np.round(ep * 1e6) / 1e6
    ep[n // 2] = ep[n // 2 - 1]  # planted tie inside one partition
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "pk": rng.integers(0, n_pk, n),
            "ep": ep,
            "value": rng.normal(10, 3, n),
        }
    )
    # SQL NULLs (sum skips), not float NaNs (sum propagates): a float64
    # column coerces None back to NaN, so go through object dtype
    pdf["value"] = pdf["value"].astype(object)
    pdf.loc[rng.random(n) < 0.1, "value"] = None
    pdf["ts"] = pd.to_datetime(pdf["ep"] * 1e6, unit="us")
    return spark.createDataFrame(pdf), pdf


@pytest.mark.parametrize("value_col", [None, "value"])
def test_decayed_sum_matches_bruteforce(spark, value_col):
    from fluvio_jolt_spark.operators.window_features import with_decayed_sum

    df, pdf = _decay_frame(spark)
    tau = 86_400.0
    got = with_decayed_sum(
        df, tau_s=tau, value_col=value_col, partition_cols=("pk",),
        out_col="d",
    ).toPandas()
    want = _decay_bruteforce(pdf, tau, value_col)
    for _, r in got.iterrows():
        w = want[r["rid"]]
        if w is None:
            assert pd.isna(r["d"])
        else:
            assert abs(r["d"] - w) <= 1e-9 * max(1.0, abs(w))


def test_decayed_sum_segmented_exact_vs_simple_and_long_span(spark):
    from fluvio_jolt_spark.operators.window_features import with_decayed_sum

    # short span: segmented must equal the single-anchor path bit-for-bit-ish
    df, pdf = _decay_frame(spark)
    tau = 86_400.0
    simple = with_decayed_sum(
        df, tau_s=tau, partition_cols=("pk",), out_col="d"
    ).toPandas().set_index("rid")["d"]
    seg = with_decayed_sum(
        df, tau_s=tau, partition_cols=("pk",), out_col="d",
        reanchor_chunk_tau=400.0,
    ).toPandas().set_index("rid")["d"]
    assert np.allclose(simple.sort_index(), seg.sort_index(), rtol=1e-12)

    # long span: span/tau = 5000 — the single-anchor exp() would overflow
    # to inf; the re-anchored variant must still match brute force.
    tau_small = 400.0  # span 2e6 s / 400 s = 5000 tau units
    df2, pdf2 = _decay_frame(spark, n=300, seed=11)
    seg2 = with_decayed_sum(
        df2, tau_s=tau_small, value_col="value", partition_cols=("pk",),
        out_col="d", reanchor_chunk_tau=400.0,
    ).toPandas()
    want = _decay_bruteforce(pdf2, tau_small, "value")
    for _, r in seg2.iterrows():
        w = want[r["rid"]]
        if pd.isna(r["d"]):
            # segmented NULL: no non-null contribution within current or
            # previous chunk — anything older decayed below double range
            assert w is None or abs(w) < 1e-250
        else:
            assert np.isfinite(r["d"])
            assert abs(r["d"] - w) <= 1e-9 * max(1.0, abs(w))


def test_decayed_sum_no_leakage(spark):
    """Appending future rows must not change any existing row's value."""
    from fluvio_jolt_spark.operators.window_features import with_decayed_sum

    df, pdf = _decay_frame(spark, n=200, seed=3)
    tau = 86_400.0
    base_vals = (
        with_decayed_sum(df, tau_s=tau, partition_cols=("pk",), out_col="d")
        .toPandas().set_index("rid")["d"]
    )
    fut = pdf.copy()
    fut["rid"] += 10_000
    fut["ep"] += 3_000_000.0  # strictly after every existing row
    # whole microseconds again, as in _decay_frame, so createDataFrame's
    # Arrow cast to timestamp[us] is exact
    fut["ep"] = np.round(fut["ep"] * 1e6) / 1e6
    fut["ts"] = pd.to_datetime(fut["ep"] * 1e6, unit="us")
    both = spark.createDataFrame(pd.concat([pdf, fut], ignore_index=True))
    with_future = (
        with_decayed_sum(both, tau_s=tau, partition_cols=("pk",), out_col="d")
        .toPandas().set_index("rid")["d"]
    )
    for rid, v in base_vals.items():
        assert with_future[rid] == pytest.approx(v, rel=1e-12)


def test_forward_label_half_open_window(spark):
    """label_(t, t+h]: own row excluded, row exactly at t+h included,
    censored tail (no future rows) = NULL sum / 0 count."""
    import pandas as pd

    from fluvio_jolt_spark.operators.window_features import with_forward_label

    base = pd.Timestamp("2024-01-01")
    df = spark.createDataFrame(
        pd.DataFrame({
            "user_id": [1] * 4,
            "ts": [base,
                   base + pd.Timedelta(seconds=3600),   # exactly t0 + h
                   base + pd.Timedelta(seconds=3601),   # 1s past t0 + h
                   base + pd.Timedelta(seconds=9000)],
            "value": [100.0, 10.0, 20.0, 40.0],
            "i": [0, 1, 2, 3],
        })
    )
    out = (
        with_forward_label(df, "value", "ts", ("user_id",), horizon_s=3600.0)
        .toPandas().set_index("i")
    )
    assert out.loc[0, "label_sum"] == 10.0       # inclusive at t+h; 3601 out
    assert out.loc[1, "label_sum"] == 20.0       # own row never counted
    assert out.loc[2, "label_count"] == 0        # 9000-3601 > 3600
    assert pd.isna(out.loc[2, "label_sum"])      # censored = NULL, not 0
    assert pd.isna(out.loc[3, "label_sum"])      # corpus tail censored


def test_state_transition_matrix_hand_computed(spark):
    import pandas as pd

    from fluvio_jolt_spark.operators.window_features import (
        state_transition_matrix,
    )

    rows = []
    for conv, roles in [
        ("c1", ["user", "assistant", "user", "assistant"]),
        ("c2", ["user", "tool"]),
    ]:
        for i, r in enumerate(roles):
            rows.append({"conv_id": conv, "turn_idx": i, "ts": i, "role": r})
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {
        (r["prev_state"], r["state"]): (r["n"], r["frac"])
        for r in state_transition_matrix(df).collect()
    }
    assert got[(None, "user")] == (2, 1.0)
    assert got[("user", "assistant")] == (2, round(2 / 3, 4))
    assert got[("user", "tool")] == (1, round(1 / 3, 4))
    assert got[("assistant", "user")] == (1, 1.0)
    assert len(got) == 4
