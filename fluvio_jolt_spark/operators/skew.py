"""Explicit skew handling for mega-conversations (salted windows).

Why this exists: AQE can split a skewed JOIN partition but can NEVER
split a WINDOW partition — one 50M-turn conversation pins one task for
the whole stage. The scalable plan bounds per-task work by chunking each
conversation on ``turn_idx`` and computing features per
``(conv_id, chunk)`` with exact cross-chunk reconciliation:

* **Bounded-lookback features** (lag/lead, rolling-k): the last
  ``overlap = max(k-1, 1)`` rows of chunk c are duplicated as carry-in
  rows of chunk c+1 (and the first row carries back for lead_*). Carry
  rows supply window context only and are dropped from the output.
* **Cumulative features** (running counts, session ids) decompose as
  ``within-chunk prefix + offset``, where offsets come from a second
  window over the per-chunk summaries — a table with one row per
  (conv_id, chunk), orders of magnitude smaller than the data (and its
  own conv_id partitions are ~n_turns/chunk long, so the skew is gone).
* **Forward-fill features** (last_tool_name): within-chunk fill,
  coalesced with the running last value of preceding chunk summaries
  (the classic distributed forward-fill).

Output is bit-identical to ``with_turn_features`` (tested) while the
largest window partition is ``chunk_rows + overlap`` regardless of
conversation size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.epoch import ensure_ltz
from .window_features import SESSION_GAP_S

_CARRY = "_carry"
_CHUNK = "_chunk"


def with_turn_features_salted(
    df: DataFrame,
    chunk_rows: int = 4096,
    session_gap_s: int = SESSION_GAP_S,
    rolling_k: int = 5,
    include_leads: bool = True,
    tool_is_name: bool = False,
) -> DataFrame:
    """Salted (chunked) twin of ``with_turn_features`` (tool_is_name as
    there: the tool column already holds the extracted name).

    PRECONDITION — dense turn_idx: ``turn_idx`` must be 0-based and
    contiguous within each conv_id (0,1,2,...). Chunk and carry-in
    assignment use ``turn_idx % chunk_rows`` arithmetic, and
    ``turn_in_session = turn_idx - session_start_turn`` relies on the
    same density; with gaps (rows filtered upstream, or arbitrary
    external parquet via jobs/run_features.py --turns) the chunk-tail
    carry rows are misplaced and lag/rolling/session features silently
    diverge at chunk seams. Re-derive a dense index first when unsure::

        w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
        df = df.withColumn("turn_idx", F.row_number().over(w) - 1)

    (one extra window pass — cheap relative to the feature stage, but
    not free, which is why it is the caller's opt-in rather than built
    in here). The bit-identical-to-unsalted guarantee (tested) holds
    only under this precondition.
    """
    df = ensure_ltz(df, "ts")
    overlap = max(rolling_k - 1, 1)

    # One-pass row duplication: each row emits its home (chunk, carry=0)
    # entry, plus a carry-in copy into the next chunk when it sits in the
    # chunk tail, plus (for leads) a carry-back copy into the previous
    # chunk when it is a chunk head. explode(array_compact(...)) keeps
    # this a single scan instead of a 3-branch union of 3 scans.
    chunk = (F.col("turn_idx") / chunk_rows).cast("long")
    pos = F.col("turn_idx") % chunk_rows
    entries = [
        F.struct(chunk.alias("chunk"), F.lit(0).alias("carry")),
        F.when(
            pos >= chunk_rows - overlap,
            F.struct((chunk + 1).alias("chunk"), F.lit(1).alias("carry")),
        ),
    ]
    if include_leads:
        entries.append(
            F.when(
                (pos < 1) & (chunk > 0),
                F.struct((chunk - 1).alias("chunk"), F.lit(1).alias("carry")),
            )
        )
    u = (
        df.withColumn("_e", F.explode(F.array_compact(F.array(*entries))))
        .withColumn(_CHUNK, F.col("_e.chunk"))
        .withColumn(_CARRY, F.col("_e.carry"))
        .drop("_e")
        # Always true (every explode entry carries a chunk), but stated
        # explicitly so BOTH downstream branches embed the same
        # isnotnull filter below their exchange: the final join infers
        # it and pushes it down the feature branch only (it cannot pass
        # the offsets window), which would otherwise leave the two
        # exchange children one Filter apart and defeat reuse.
        .filter(F.col(_CHUNK).isNotNull())
    )

    w = Window.partitionBy("conv_id", _CHUNK).orderBy("turn_idx", "ts")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wroll = w.rowsBetween(-(rolling_k - 1), Window.currentRow)

    prev_ts = F.lag("ts").over(w)
    real = F.col(_CARRY) == 0
    is_tool = (F.col("tool").isNotNull() & (F.col("tool") != F.lit(""))).cast("int")

    out = (
        u.withColumn("prev_ts", prev_ts)
        .withColumn(
            "inter_turn_s",
            (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)) / F.lit(1_000_000.0),
        )
        .withColumn("prev_role", F.lag("role").over(w))
        .withColumn(
            "role_alternated",
            F.when(F.col("prev_role").isNull(), F.lit(None).cast("boolean")).otherwise(
                F.col("role") != F.col("prev_role")
            ),
        )
        .withColumn("is_tool_call", is_tool)
    )

    # rolling window: raw values — carry rows ARE the true previous turns
    out = out.withColumn("tool_calls_last_k", F.sum("is_tool_call").over(wroll))

    if include_leads:
        # the carry-back row (next chunk's first turn) sits at the end of
        # this chunk's window, so lead(1) is exact at chunk seams
        out = out.withColumn("lead_ts", F.lead("ts").over(w)).withColumn(
            "lead_role", F.lead("role").over(w)
        )

    # cumulative: only real rows contribute (carry rows were already
    # counted in their home chunk)
    contrib_tool = F.when(real, F.col("is_tool_call")).otherwise(0)
    brk = F.when(F.col("inter_turn_s") > F.lit(float(session_gap_s)), 1).otherwise(0)
    contrib_brk = F.when(real, brk).otherwise(0)
    out = (
        out.withColumn("_tool_cum_w", F.sum(contrib_tool).over(wcum))
        .withColumn("_brk", brk)
        .withColumn("_brk_cum_w", F.sum(contrib_brk).over(wcum))
    )

    # forward-fill sources (carry rows are legitimate earlier turns, so
    # they may supply fill values within the chunk)
    name_expr = F.col("tool") if tool_is_name else F.get_json_object("tool", "$.name")
    tool_name = F.when(F.col("is_tool_call") == 1, name_expr)
    out = out.withColumn("_tool_name_w", F.last(tool_name, ignorenulls=True).over(wcum))
    # session-start turn: first real turn of the conversation or any break row
    sess_start_src = F.when(
        real & ((F.col("turn_idx") == 0) | (F.col("_brk") == 1)), F.col("turn_idx")
    )
    out = out.withColumn("_sess_start_w", F.last(sess_start_src, ignorenulls=True).over(wcum))

    # ---- chunk summaries → cross-chunk offsets (tiny second pass) ----
    # Derived from the chunked rows with only the lag window (not from
    # `out`: a branch off the full feature chain would recompute all six
    # window functions a second time). Structured for EXCHANGE REUSE:
    # this branch's shuffle child must be byte-identical to the main
    # branch's so AQE serves both from ONE scan + ONE shuffle of the
    # full data instead of two of each. Two things make that hold
    # (verified in the final adaptive plan — ReusedQueryStage present):
    #   1. every derived expression lives INSIDE the aggregate call (no
    #      pre-projection that Catalyst could push below the exchange);
    #   2. `_role_probe` keeps the one column this branch doesn't
    #      otherwise need (role) alive through column pruning, so both
    #      branches prune the scan to the same column set. The probe is
    #      threaded into _tool_name_off through a never-true CASE (the
    #      optimizer cannot fold `length(x) < -1`, so it survives), and
    #      evaluates to NULL at runtime — semantics unchanged.
    s_lag = F.lag("ts").over(w)
    s_gap = (F.unix_micros(F.col("ts")) - F.unix_micros(s_lag)) / F.lit(1_000_000.0)
    s_brk = F.when(s_gap > F.lit(float(session_gap_s)), 1).otherwise(0)
    s_tool_name = F.when(is_tool == 1, name_expr)
    summaries = (
        u.withColumn("_s_brk", s_brk)
        .groupBy("conv_id", _CHUNK)
        .agg(
            F.sum(F.when(real, is_tool).otherwise(0)).alias("_tool_tot"),
            F.sum(F.when(real, F.col("_s_brk")).otherwise(0)).alias("_brk_tot"),
            F.max_by(
                s_tool_name, F.when(s_tool_name.isNotNull(), F.col("turn_idx"))
            ).alias("_tool_name_last"),
            F.max(
                F.when(
                    real & ((F.col("turn_idx") == 0) | (F.col("_s_brk") == 1)),
                    F.col("turn_idx"),
                )
            ).alias("_sess_start_last"),
            F.first("role").alias("_role_probe"),
        )
    )
    woff = (
        Window.partitionBy("conv_id")
        .orderBy(_CHUNK)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    probe_null = F.when(F.length(F.col("_role_probe")) < F.lit(-1), F.lit(""))
    offsets = summaries.select(
        "conv_id",
        _CHUNK,
        F.coalesce(F.sum("_tool_tot").over(woff), F.lit(0)).alias("_tool_off"),
        F.coalesce(F.sum("_brk_tot").over(woff), F.lit(0)).alias("_brk_off"),
        F.coalesce(
            F.last("_tool_name_last", ignorenulls=True).over(woff), probe_null
        ).alias("_tool_name_off"),
        F.last("_sess_start_last", ignorenulls=True).over(woff).alias("_sess_start_off"),
    )

    # offsets has one row per (conv_id, chunk) — orders of magnitude
    # smaller than the data but unbounded at 10^12 turns, so shuffled
    # hash (build the small side) rather than broadcast or sort-merge
    joined = out.filter(real).join(offsets.hint("SHUFFLE_HASH"), ["conv_id", _CHUNK])

    result = (
        joined.withColumn("tool_calls_cum", F.col("_tool_cum_w") + F.col("_tool_off"))
        .withColumn("session_id", F.col("_brk_cum_w") + F.col("_brk_off"))
        .withColumn(
            "last_tool_name", F.coalesce(F.col("_tool_name_w"), F.col("_tool_name_off"))
        )
        .withColumn(
            "_sess_start", F.coalesce(F.col("_sess_start_w"), F.col("_sess_start_off"))
        )
    )
    # turn_in_session: position within session (sessions are turn_idx
    # ranges, so the offset form is exact)
    result = result.withColumn(
        "turn_in_session", F.col("turn_idx") - F.col("_sess_start")
    )

    drop = [c for c in result.columns if c.startswith("_")]
    return result.drop(*drop)


def key_skew_profile(df: DataFrame, key_cols: "list[str]") -> DataFrame:
    """Key-distribution profile per candidate join/group key — the
    diagnostic you run BEFORE picking a shuffle strategy at 100 TB:
    a skew factor (heaviest key's rows / mean rows-per-key) near 1
    means plain hash partitioning is fine; large factors mean the
    heavy keys own whole tasks and need salting / AQE skew splitting
    (exactly what with_turn_features_salted does for conversations).

    One partial-agg'd groupBy per key column (keys cast to string so
    heterogeneous columns union into one report), then a tiny global
    rollup of the count-per-key frame.  NULL is profiled as a key —
    at web scale the null key is the most common skew monster.

    Returns one row per key column: (key_col, n_rows, n_keys,
    max_cnt, skew)."""
    outs = []
    for c in key_cols:
        per_key = df.groupBy(F.col(c).cast("string").alias("k")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        agg = per_key.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.max("cnt").alias("max_cnt"),
        ).select(F.lit(c).alias("key_col"), "n_rows", "n_keys", "max_cnt")
        outs.append(agg)
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    skew = F.col("max_cnt").cast("double") / (
        F.col("n_rows").cast("double") / F.col("n_keys").cast("double")
    )
    return u.withColumn("skew", F.round(skew, 4))
