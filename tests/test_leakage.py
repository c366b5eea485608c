"""Dedicated zero-temporal-leakage gates for every as-of variant and
the backward feature set (the north rule's hard invariant)."""

from __future__ import annotations

import pandas as pd
import pytest

from fluvio_jolt_spark.operators.asof import (
    asof_join,
    asof_join_bucketed,
    asof_join_salted,
)


@pytest.fixture(scope="module")
def poisoned(spark):
    """Left turns plus a right side where every conversation also has a
    FUTURE snapshot carrying a sentinel value that must never appear."""
    lpdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 4 + ["b"] * 3,
            "turn_idx": [0, 1, 2, 3, 0, 1, 2],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00", "2024-01-01 00:05",
                    "2024-01-01 00:10", "2024-01-01 00:15",
                    "2024-02-01 09:00", "2024-02-01 09:30", "2024-02-01 10:00",
                ]
            ),
        }
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": ["a", "a", "b", "b"],
            "snap_ts": pd.to_datetime(
                ["2024-01-01 00:07", "2024-01-01 00:16", "2024-02-01 09:45", "2024-02-01 10:01"]
            ),
            "attr_value": [1.0, -666.0, 2.0, -666.0],  # -666 = future sentinel
        }
    )
    return spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)


@pytest.mark.parametrize(
    "variant",
    [
        lambda l, r: asof_join(l, r),
        lambda l, r: asof_join_salted(l, r, chunk_rows=2),
        lambda l, r: asof_join_bucketed(l, r, key_cols=("turn_idx",)),
    ],
    ids=["window", "salted", "bucketed"],
)
def test_future_sentinel_never_joins(spark, poisoned, variant):
    left, right = poisoned
    got = variant(left, right).toPandas()
    assert not (got["attr_value"] == -666.0).any(), got.to_string()
    # and the legal snapshots DO join where eligible
    a3 = got[(got.conv_id == "a") & (got.turn_idx == 3)]["attr_value"].iloc[0]
    assert a3 == 1.0
    b0 = got[(got.conv_id == "b") & (got.turn_idx == 0)]["attr_value"].iloc[0]
    assert pd.isna(b0)


def test_backward_features_ignore_future_rows(spark):
    """Appending future turns to a conversation must not change any
    backward feature on the existing prefix (direct leakage probe on the
    salted pipeline)."""
    from pyspark.sql import functions as F

    from fluvio_jolt_spark.operators.skew import with_turn_features_salted

    base = pd.DataFrame(
        {
            "conv_id": ["c"] * 6,
            "turn_idx": range(6),
            "role": ["user", "assistant"] * 3,
            "tool": ["", '{"name":"t"}', "", "", '{"name":"u"}', ""],
            "ts": pd.date_range("2024-01-01", periods=6, freq="min"),
        }
    )
    future = pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": [6, 7, 8],
            "role": ["user", "tool", "assistant"],
            "tool": ['{"name":"z"}'] * 3,
            "ts": pd.date_range("2024-01-01 00:06", periods=3, freq="min"),
        }
    )
    cols = [
        "inter_turn_s",
        "tool_calls_last_k",
        "tool_calls_cum",
        "session_id",
        "turn_in_session",
        "last_tool_name",
    ]
    small = (
        with_turn_features_salted(spark.createDataFrame(base), chunk_rows=3, include_leads=False)
        .orderBy("turn_idx")
        .toPandas()[cols]
    )
    big = (
        with_turn_features_salted(
            spark.createDataFrame(pd.concat([base, future])), chunk_rows=3, include_leads=False
        )
        .filter(F.col("turn_idx") < 6)
        .orderBy("turn_idx")
        .toPandas()[cols]
    )
    for c in cols:
        a, b = small[c].to_numpy(object), big[c].to_numpy(object)
        assert all(
            (pd.isna(x) and pd.isna(y)) or x == y for x, y in zip(a, b)
        ), f"future rows changed backward feature {c}"
