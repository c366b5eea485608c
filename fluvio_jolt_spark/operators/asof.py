"""Point-in-time (as-of) join — Spark has no native ASOF JOIN.

Primary implementation: union-tag + last-known-value window. One
shuffle on the entity key, fully Catalyst (codegen'd window), scales to
arbitrary right-side density, and AQE handles join-side skew. Tie
semantics are pinned to ``<=``: a snapshot with ``snap_ts == ts`` IS
visible to that turn (right rows order before left rows at equal ts).

Zero-leakage invariant (tested): no joined value may originate from a
snapshot with ``snap_ts > ts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.epoch import ensure_ltz


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    right_on: str = "snap_ts",
    by: str | list[str] = "conv_id",
    value_cols: list[str] | None = None,
    strict: bool = False,
    tolerance_s: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach right values matched as-of within the
    same ``by`` keys, in the chosen ``direction`` (pandas ``merge_asof``
    semantics):

    - ``backward`` (default): latest right with ``right_on <= on``
      (``<`` when strict);
    - ``forward``: earliest right with ``right_on >= on`` (``>`` when
      strict);
    - ``nearest``: whichever of the two is closer in time; ties prefer
      the backward (earlier) match, like pandas.

    Plan shape: union → one shuffle on (by) → window sort on
    (event time, side priority) → filter left rows. No join node at all,
    so there is no row-multiplication risk and no broadcast-size limit.
    ``nearest`` fills both directions over the SAME partitioning — one
    exchange, two sorts (see ``_asof_join_nearest``).

    ``tolerance_s`` bounds match staleness (the feature-store TTL
    semantic): a match farther than ``tolerance_s`` from ``on`` (older
    for backward, later for forward, either for nearest) is discarded
    and the values come back NULL, exactly as if no snapshot existed —
    a stale profile must not silently serve as a point-in-time feature.
    Staleness is judged against the matched snapshot's own timestamp,
    carried through the same fill window (adds no exchange, no join).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    if direction == "nearest":
        return _asof_join_nearest(
            left, right, on=on, right_on=right_on, by=by,
            value_cols=value_cols, strict=strict, tolerance_s=tolerance_s,
        )
    left = ensure_ltz(left, on)
    right = ensure_ltz(right, right_on)
    by_cols = [by] if isinstance(by, str) else list(by)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in by_cols + [right_on]]

    # Side priority at equal timestamps. Backward fills from
    # [unboundedPreceding, currentRow], so an equal-ts right row is
    # visible iff it sorts BEFORE the left row (prio 0) and hidden iff
    # after (prio 2). Forward fills from [currentRow,
    # unboundedFollowing] — the inclusion test flips: visible iff the
    # right row sorts AFTER the left row.
    if direction == "backward":
        right_prio = 0 if not strict else 2
    else:
        right_prio = 2 if not strict else 0
    left_prio = 1

    l_tag = left.withColumn("_evt_ts", F.col(on)).withColumn("_prio", F.lit(left_prio))
    for c in value_cols:
        l_tag = l_tag.withColumn(c, F.lit(None).cast(right.schema[c].dataType))

    r_tag = right.withColumn("_evt_ts", F.col(right_on)).withColumn("_prio", F.lit(right_prio))
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))

    fill_cols = list(value_cols)
    if tolerance_s is not None:
        # carry the matched snapshot's own ts through the same fill
        l_tag = l_tag.withColumn("_src_ts", F.lit(None).cast("timestamp"))
        r_tag = r_tag.withColumn("_src_ts", F.col(right_on))
        fill_cols.append("_src_ts")

    cols = by_cols + ["_evt_ts", "_prio"] + \
        [c for c in left.columns if c not in by_cols] + fill_cols
    unioned = l_tag.select(*cols).unionByName(r_tag.select(*cols))

    # Final tiebreaker: duplicate right rows at identical (by, snap_ts)
    # would otherwise leave last()/first() nondeterministic — order by
    # the value columns themselves so the pick is stable across
    # runs/partitionings (backward: the max value at the tied timestamp
    # wins; forward: the min).
    w = Window.partitionBy(*by_cols).orderBy("_evt_ts", "_prio", *value_cols)
    if direction == "backward":
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        fill = lambda c: F.last(c, ignorenulls=True)  # noqa: E731
    else:
        w = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        fill = lambda c: F.first(c, ignorenulls=True)  # noqa: E731
    for c in fill_cols:
        unioned = unioned.withColumn(c, fill(c).over(w))

    out = unioned.filter(F.col("_prio") == left_prio).drop("_evt_ts", "_prio")
    if tolerance_s is not None:
        if direction == "backward":
            staleness = F.unix_micros(F.col(on)) - F.unix_micros(F.col("_src_ts"))
        else:
            staleness = F.unix_micros(F.col("_src_ts")) - F.unix_micros(F.col(on))
        fresh = (
            F.col("_src_ts").isNotNull()
            & (staleness <= F.lit(int(round(tolerance_s * 1_000_000))))
        )
        for c in value_cols:
            out = out.withColumn(c, F.when(fresh, F.col(c)))
        out = out.drop("_src_ts")
    return out


def _asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_on: str,
    by: str | list[str],
    value_cols: list[str] | None,
    strict: bool,
    tolerance_s: float | None,
) -> DataFrame:
    """Nearest-direction as-of: fill BOTH directions over the same
    union and per-``by`` partitioning, then pick per left row whichever
    matched snapshot is closer to ``on`` (ties → backward, like pandas
    ``merge_asof(direction="nearest")``). One exchange (both window
    specs share the partition keys), two sorts (the side-priority
    ordering differs between directions when ``strict`` flips equal-ts
    visibility).
    """
    left = ensure_ltz(left, on)
    right = ensure_ltz(right, right_on)
    by_cols = [by] if isinstance(by, str) else list(by)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in by_cols + [right_on]]

    # Equal-ts visibility per direction (see asof_join): backward sees
    # prio-0 rights, forward sees prio-2 rights.
    b_right_prio = 0 if not strict else 2
    f_right_prio = 2 if not strict else 0
    left_prio = 1

    def _b(c: str) -> str:
        return f"__b_{c}"

    def _f(c: str) -> str:
        return f"__f_{c}"

    l_tag = (
        left.withColumn("_evt_ts", F.col(on))
        .withColumn("_prio_b", F.lit(left_prio))
        .withColumn("_prio_f", F.lit(left_prio))
    )
    for c in value_cols:
        dt = right.schema[c].dataType
        l_tag = l_tag.withColumn(_b(c), F.lit(None).cast(dt))
        l_tag = l_tag.withColumn(_f(c), F.lit(None).cast(dt))
    l_tag = l_tag.withColumn(_b("_src"), F.lit(None).cast("timestamp"))
    l_tag = l_tag.withColumn(_f("_src"), F.lit(None).cast("timestamp"))

    r_tag = (
        right.withColumn("_evt_ts", F.col(right_on))
        .withColumn("_prio_b", F.lit(b_right_prio))
        .withColumn("_prio_f", F.lit(f_right_prio))
    )
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    for c in value_cols:
        r_tag = r_tag.withColumn(_b(c), F.col(c))
        r_tag = r_tag.withColumn(_f(c), F.col(c))
    r_tag = r_tag.withColumn(_b("_src"), F.col(right_on))
    r_tag = r_tag.withColumn(_f("_src"), F.col(right_on))

    b_fill = [_b(c) for c in value_cols] + [_b("_src")]
    f_fill = [_f(c) for c in value_cols] + [_f("_src")]
    cols = (
        by_cols + ["_evt_ts", "_prio_b", "_prio_f"]
        + [c for c in left.columns if c not in by_cols]
        + b_fill + f_fill
    )
    unioned = l_tag.select(*cols).unionByName(r_tag.select(*cols))

    # Tiebreak duplicate right rows at identical (by, snap_ts) by the
    # direction-local value copies (the original value columns are not
    # in the union projection). Right-row sort keys are never mutated
    # by the in-place fills (a right row's own value is the last/first
    # non-null at its own position), so the ordering stays consistent
    # across the per-column fill steps.
    wb = (
        Window.partitionBy(*by_cols)
        .orderBy("_evt_ts", "_prio_b", *[_b(c) for c in value_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*by_cols)
        .orderBy("_evt_ts", "_prio_f", *[_f(c) for c in value_cols])
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    for c in b_fill:
        unioned = unioned.withColumn(c, F.last(c, ignorenulls=True).over(wb))
    for c in f_fill:
        unioned = unioned.withColumn(c, F.first(c, ignorenulls=True).over(wf))

    out = unioned.filter(F.col("_prio_b") == left_prio)

    db = F.unix_micros(F.col(on)) - F.unix_micros(F.col(_b("_src")))
    df_ = F.unix_micros(F.col(_f("_src"))) - F.unix_micros(F.col(on))
    valid_b = F.col(_b("_src")).isNotNull()
    valid_f = F.col(_f("_src")).isNotNull()
    if tolerance_s is not None:
        tol = F.lit(int(round(tolerance_s * 1_000_000)))
        valid_b = valid_b & (db <= tol)
        valid_f = valid_f & (df_ <= tol)
    pick_b = valid_b & (~valid_f | (db <= df_))
    pick_f = ~pick_b & valid_f
    for c in value_cols:
        out = out.withColumn(
            c, F.when(pick_b, F.col(_b(c))).when(pick_f, F.col(_f(c)))
        )
    drop = ["_evt_ts", "_prio_b", "_prio_f"] + b_fill + f_fill
    return out.drop(*drop)


def asof_join_salted(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    right_on: str = "snap_ts",
    by: str = "conv_id",
    value_cols: list[str] | None = None,
    order_col: str = "turn_idx",
    chunk_rows: int = 8192,
    strict: bool = False,
    left_narrow: DataFrame | None = None,
) -> DataFrame:
    """Skew-proof as-of join: identical output to ``asof_join`` while
    bounding every window partition to ``chunk_rows`` left rows — a
    mega-entity no longer pins one task (the same carry-in decomposition
    as skew.with_turn_features_salted, applied to last-known-value).

    ``left_narrow``: optional row-equivalent projection of ``left``
    carrying at least (by, order_col, on). The chunk-range metadata
    (per-chunk max timestamps) is computed from it instead of ``left``;
    Spark re-evaluates a shared subtree once per consumer, so when
    ``left`` is itself an expensive pipeline (e.g. the windowed feature
    stage) passing its cheap source here removes whole re-executions of
    that pipeline from the plan. Caller contract: same rows (by,
    order_col, on) as ``left`` — any 1:1 column-adding pipeline
    qualifies.

    Plan: (1) chunk left rows on ``order_col``; (2) compute per-chunk
    time ranges (a per-(by,chunk) aggregate — rows ≈ n/chunk_rows);
    (3) assign each right row to the chunk whose range contains its
    timestamp via a small union-window over ranges+rights only;
    (4) per (by, chunk) union-window fill as usual; (5) rows whose fill
    is still null take the carry-in: the running last right value over
    PRECEDING chunk summaries. Requires ``order_col`` order to agree
    with ``on`` order within each entity (true for turn_idx vs ts).
    """
    left = ensure_ltz(left, on)
    right = ensure_ltz(right, right_on)
    by_cols = [by] if isinstance(by, str) else list(by)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in by_cols + [right_on]]

    chunk = (F.col(order_col) / chunk_rows).cast("long").alias("_chunk")
    l_chunked = left.withColumn("_chunk", chunk)

    # (2) per-chunk max event time — the small table (1 row per chunk).
    # Computed from left_narrow when provided (see docstring): the agg
    # prunes to 3 columns and partial-aggregates map-side, so this
    # branch costs one cheap scan instead of a re-run of `left`.
    meta = ensure_ltz(left_narrow, on) if left_narrow is not None else left
    ranges = (
        meta.withColumn("_chunk", chunk)
        .groupBy(*by_cols, "_chunk")
        .agg(F.max(on).alias("_chunk_max"))
    )

    # (3) assign right rows to chunks: a right row with ts t belongs in
    # the FIRST chunk whose max >= t (it can then forward-fill within
    # that chunk and carry into later ones via summaries). Union trick
    # over (ranges ∪ rights): next-chunk-id = min future _chunk.
    r_tag = right.select(
        *by_cols,
        F.col(right_on).alias("_t"),
        F.lit(None).cast("long").alias("_chunk"),
        F.lit(1).alias("_is_right"),
        *[F.col(c) for c in value_cols],
    )
    g_tag = ranges.select(
        *by_cols,
        F.col("_chunk_max").alias("_t"),
        F.col("_chunk"),
        F.lit(0).alias("_is_right"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
    )
    # Tie order at equal time in the DESC scan:
    #   <= semantics: ranges first (is_right asc) — a snapshot exactly at
    #     the chunk max lands IN that chunk, where within-chunk _prio
    #     makes it visible to same-ts lefts.
    #   <  (strict): rights first (is_right desc) — a snapshot exactly at
    #     chunk N's max must NOT be served to a chunk N+1 left row with
    #     the same ts via the carry-in coalesce (which has no _prio
    #     guard), so assign it to chunk N+1 where the within-chunk window
    #     applies strict ordering correctly.
    tie = F.col("_is_right").asc() if not strict else F.col("_is_right").desc()
    w_assign = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col("_t").desc(), tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned_rights = (
        r_tag.unionByName(g_tag)
        .withColumn("_chunk", F.min("_chunk").over(w_assign))
        .filter((F.col("_is_right") == 1) & F.col("_chunk").isNotNull())
        .select(*by_cols, "_chunk", F.col("_t").alias(right_on), *value_cols)
    )
    # rights after the last turn (no containing chunk) are dropped — they
    # can never join (zero-leakage); rights are never dropped otherwise.

    # (4) within-chunk union-window fill (bounded partitions)
    right_prio = 0 if not strict else 2
    left_prio = 1
    l_tag = l_chunked.withColumn("_evt_ts", F.col(on)).withColumn("_prio", F.lit(left_prio))
    for c in value_cols:
        l_tag = l_tag.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    rr = assigned_rights.withColumn("_evt_ts", F.col(right_on)).withColumn(
        "_prio", F.lit(right_prio)
    )
    for c in left.columns:
        if c not in rr.columns:
            rr = rr.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    cols = by_cols + ["_chunk", "_evt_ts", "_prio"] + [
        c for c in left.columns if c not in by_cols
    ] + value_cols
    unioned = l_tag.select(*cols).unionByName(rr.select(*cols))
    # value_cols tiebreak mirrors asof_join: deterministic pick among
    # duplicate right rows at identical (by, snap_ts)
    w_fill = (
        Window.partitionBy(*by_cols, "_chunk")
        .orderBy("_evt_ts", "_prio", *value_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned
    for c in value_cols:
        filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w_fill))
    filled = filled.filter(F.col("_prio") == left_prio)

    # (5) carry-in: last right value over preceding chunks' summaries.
    # Per-chunk summary = latest NON-NULL value by time (mirrors the
    # unsalted last(ignorenulls): a null right value never overwrites).
    # The max_by key is the FULL (ts, *value_cols) tuple — the same
    # total order the window variant sorts by — so with 2+ value
    # columns every column is taken from the same tied right row as
    # asof_join would pick, not from independent per-column maxima
    # (struct comparison puts NULL fields first, matching the window's
    # default NULLS FIRST ordering — verified by the multi-value-col
    # tie test in tests/test_asof.py).
    tie_key = F.struct(F.col(right_on), *[F.col(v) for v in value_cols])
    summaries = assigned_rights.groupBy(*by_cols, "_chunk").agg(
        *[
            F.max_by(c, F.when(F.col(c).isNotNull(), tie_key)).alias(c)
            for c in value_cols
        ]
    )
    w_off = (
        Window.partitionBy(*by_cols)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # every left chunk needs an offsets row (chunks with no rights too):
    # build the full chunk list from ranges, left-join summaries
    all_chunks = ranges.select(*by_cols, "_chunk")
    offsets_full = (
        all_chunks.join(summaries, by_cols + ["_chunk"], "left")
        .select(
            *by_cols,
            "_chunk",
            *[
                F.last(c, ignorenulls=True).over(w_off).alias(c + "_off")
                for c in value_cols
            ],
        )
    )

    out = filled.join(offsets_full.hint("SHUFFLE_HASH"), by_cols + ["_chunk"], "left")
    for c in value_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(c + "_off")))
    return out.drop("_chunk", "_evt_ts", "_prio", *[c + "_off" for c in value_cols])


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    right_on: str = "snap_ts",
    by: str | list[str] = "conv_id",
    key_cols: "list[str] | tuple[str, ...]" = ("turn_idx",),
    value_cols: list[str] | None = None,
    strict: bool = False,
    null_safe: bool = False,
) -> DataFrame:
    """Join-verify as-of for CO-PARTITIONED inputs (same-bucket tables,
    or both sides already hash-partitioned by ``by``): plain left
    equi-join on the entity key → per-left-row max_by over rights with
    ``right_on <= on`` (``<`` when strict). The join and the group-by
    both cluster on ``by``-subsets, so on bucketed tables the WHOLE
    operator runs with ZERO exchanges (test-verified) — the layout-aware
    companion to ``asof_join``'s union-window (which must reshuffle
    because a union has no partitioning).

    Trade-off: row expansion = rights-per-entity before the aggregate,
    so use where the right side is sparse per entity (snapshot tables —
    the common case). ``by + key_cols`` must uniquely identify a left
    row. Tie semantics identical to ``asof_join``: at equal timestamps
    the snapshot IS visible (<=), and among duplicate right timestamps
    all value columns are taken from the single right row that is max
    by (ts, *value_cols) — the same deterministic pick as the window
    variant.

    NULL entity keys (caller contract): by default this equi-join never
    matches NULL = NULL, so left rows with a NULL ``by`` key stay
    unfilled — this DIFFERS from ``asof_join``, whose window
    partitionBy groups NULL keys together. Pass ``null_safe=True`` to
    match ``asof_join`` exactly via a null-safe (<=>) equi-join; the
    null-safe key expression may cost an extra exchange on bucketed
    layouts (hashpartitioning is on the raw column), which is why it is
    opt-in.
    """
    left = ensure_ltz(left, on)
    right = ensure_ltz(right, right_on)
    by_cols = [by] if isinstance(by, str) else list(by)
    keys = list(key_cols)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in by_cols + [right_on]]

    r = right.select(
        *by_cols,
        F.col(right_on).alias("_r_ts"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    )
    if null_safe:
        rr = r.select(
            *[F.col(k).alias(f"_r_by_{k}") for k in by_cols],
            *[c for c in r.columns if c not in by_cols],
        )
        cond = None
        for k in by_cols:
            term = left[k].eqNullSafe(F.col(f"_r_by_{k}"))
            cond = term if cond is None else cond & term
        j = left.join(rr.hint("SHUFFLE_HASH"), cond, "left").drop(
            *[f"_r_by_{k}" for k in by_cols]
        )
    else:
        j = left.join(r.hint("SHUFFLE_HASH"), by_cols, "left")
    visible = F.col("_r_ts") < F.col(on) if strict else F.col("_r_ts") <= F.col(on)

    other = [c for c in left.columns if c not in by_cols + keys]
    # full-tuple tie key: every value column comes from the SAME tied
    # right row (see asof_join_salted's summaries for the rationale)
    r_tie_key = F.struct(F.col("_r_ts"), *[F.col(f"_r_{v}") for v in value_cols])
    picks = [
        F.max_by(
            f"_r_{c}",
            F.when(visible & F.col(f"_r_{c}").isNotNull(), r_tie_key),
        ).alias(c)
        for c in value_cols
    ]
    return (
        j.groupBy(*by_cols, *keys)
        .agg(*[F.first(c).alias(c) for c in other], *picks)
        .select(*left.columns, *value_cols)
    )


def scd2_intervals(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension type-2 interval construction: turn a
    change-event stream into half-open validity intervals
    [valid_from, valid_to) per entity — the table an as-of join (or a
    DuckDB/warehouse ``BETWEEN``-range join) consumes. valid_to is the
    NEXT change's timestamp; the latest version per entity is open
    (valid_to NULL, is_current true). Version numbers count from 1 in
    change order, ties broken by ``tie_col`` so the interval chain is
    deterministic under any partitioning.

    100-TB shape: ONE window shuffle on the entity key serves lead()
    and row_number() together (same partitionBy/orderBy, one Exchange +
    one sort); no join, no second pass. Emits epoch-µs integers (exact
    cross-engine arithmetic, the repo-wide timestamp convention).

    Reference parity: this is the snapshot-build counterpart of the
    as-of consumers above (asof_join et al.) — the reference's host
    runtime has no temporal operators at all (fluvio-jolt is a
    per-record reshaper; smartmodule/src/lib.rs:35-44), so this is
    part of the grafted temporal feature set."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, tie_col)
    vf = F.unix_micros(F.col(ts_col))
    vt = F.lead(F.unix_micros(F.col(ts_col))).over(w)
    return df.select(
        F.col("*"),
        F.row_number().over(w).alias("version"),
        vf.alias("valid_from_us"),
        vt.alias("valid_to_us"),
        vt.isNull().alias("is_current"),
    )
