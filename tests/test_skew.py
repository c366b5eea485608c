"""Salted (chunked) window features must be value-identical to the
unsalted reference implementation — including across chunk seams — while
bounding the largest window partition."""

from __future__ import annotations

import pandas as pd
import pytest

from fluvio_jolt_spark.operators.skew import with_turn_features_salted
from fluvio_jolt_spark.operators.window_features import with_turn_features

FEATURES = [
    "prev_ts",
    "inter_turn_s",
    "prev_role",
    "role_alternated",
    "is_tool_call",
    "tool_calls_last_k",
    "tool_calls_cum",
    "session_id",
    "turn_in_session",
    "last_tool_name",
    "lead_ts",
    "lead_role",
]


def _cmp(a: pd.DataFrame, b: pd.DataFrame):
    key = ["conv_id", "turn_idx"]
    a = a.sort_values(key, kind="mergesort").reset_index(drop=True)
    b = b.sort_values(key, kind="mergesort").reset_index(drop=True)
    assert len(a) == len(b)
    for c in FEATURES:
        av = a[c].to_numpy(dtype=object)
        bv = b[c].to_numpy(dtype=object)
        bad = [
            (i, x, y)
            for i, (x, y) in enumerate(zip(av, bv))
            if not ((pd.isna(x) and pd.isna(y)) or x == y)
        ]
        assert not bad, f"{c}: {len(bad)} mismatches, first {bad[:3]}"


@pytest.mark.parametrize("chunk_rows", [7, 64])
def test_salted_equals_unsalted(spark, transcripts_small, chunk_rows):
    """chunk_rows=7 forces many seams (every conversation splits);
    chunk_rows=64 splits only the bigger ones."""
    df, _ = transcripts_small
    want = with_turn_features(df).toPandas()
    got = with_turn_features_salted(df, chunk_rows=chunk_rows).toPandas()
    _cmp(got, want)


def test_salted_row_count_preserved(spark, transcripts_small):
    df, _ = transcripts_small
    assert with_turn_features_salted(df, chunk_rows=16).count() == df.count()


def test_mega_conversation_present(spark, transcripts_small):
    """The generator must produce skew worth salting."""
    from pyspark.sql import functions as F

    df, _ = transcripts_small
    top = df.groupBy("conv_id").count().orderBy(F.col("count").desc()).first()
    assert top["count"] > 0.02 * df.count()


def test_salted_bounds_partition_size(spark, transcripts_small):
    """Max rows per (conv_id, chunk) window partition is bounded by
    chunk_rows + overlap."""
    from pyspark.sql import functions as F

    df, _ = transcripts_small
    chunk_rows = 64
    chunked = df.withColumn("_chunk", (F.col("turn_idx") / chunk_rows).cast("long"))
    sizes = chunked.groupBy("conv_id", "_chunk").count().agg(F.max("count")).collect()[0][0]
    assert sizes <= chunk_rows


def test_salted_features_single_shuffle_of_data(spark, transcripts_small):
    """The summaries branch must REUSE the feature branch's exchange
    (one scan + one shuffle of the full data): the branch structure is
    pinned so both exchange children canonicalize identically."""
    import re

    turns, _ = transcripts_small
    narrow = turns.select("conv_id", "turn_idx", "role", "tool", "ts")
    out = with_turn_features_salted(narrow, chunk_rows=64)
    out.collect()  # count() would execute a different QueryExecution
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert len(re.findall(r"Reused", plan)) >= 1, plan[:2000]


def test_salted_gappy_turn_idx_reindex(spark, transcripts_small):
    """The documented contiguity precondition, pinned: on gappy
    turn_idx the salted variant is re-aligned by re-deriving a dense
    index (what run_features --reindex-turns does), after which it is
    value-identical to the unsalted features on the same gappy data."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fluvio_jolt_spark.operators.window_features import with_turn_features

    turns, _ = transcripts_small
    narrow = turns.select("conv_id", "turn_idx", "role", "tool", "ts")
    # poke holes: drop ~1/3 of rows -> turn_idx has gaps
    gappy = narrow.filter((F.xxhash64("conv_id", "turn_idx") % 3) != 0)
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    dense = gappy.withColumn("turn_idx", F.row_number().over(w) - 1)

    want = with_turn_features(dense).orderBy("conv_id", "turn_idx").collect()
    got = (
        with_turn_features_salted(dense, chunk_rows=7)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    cols = sorted({c for r in want[:1] for c in r.asDict()})
    a = [tuple(r[c] for c in cols) for r in want]
    b = [tuple(r[c] for c in cols) for r in got]
    assert a == b


def test_key_skew_profile_planted_skew(spark):
    import pandas as pd
    from fluvio_jolt_spark.operators.skew import key_skew_profile

    # 'hot' owns 90 of 100 rows over 11 keys -> skew = 90 / (100/11) = 9.9
    pdf = pd.DataFrame({
        "k1": ["hot"] * 90 + [f"cold{i}" for i in range(10)],
        "k2": list(range(100)),  # perfectly uniform -> skew 1.0
    })
    out = (
        key_skew_profile(spark.createDataFrame(pdf), ["k1", "k2"])
        .toPandas().set_index("key_col")
    )
    assert out.loc["k1", "max_cnt"] == 90 and out.loc["k1", "n_keys"] == 11
    assert out.loc["k1", "skew"] == 9.9
    assert out.loc["k2", "skew"] == 1.0


def test_key_skew_profile_null_is_a_key(spark):
    import pandas as pd
    from fluvio_jolt_spark.operators.skew import key_skew_profile

    pdf = pd.DataFrame({"k": pd.Series(["a", None, None, None], dtype=object)})
    out = key_skew_profile(spark.createDataFrame(pdf), ["k"]).toPandas().iloc[0]
    assert out["n_keys"] == 2 and out["max_cnt"] == 3
