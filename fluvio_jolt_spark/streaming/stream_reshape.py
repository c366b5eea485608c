"""Structured Streaming wiring for the engine.

The reference's streaming form is a per-record SmartModule map over a
Fluvio topic (smartmodule/src/lib.rs:35-44). The Spark-native
equivalent: ``readStream`` (file/Kafka source) → the SAME
``jolt_reshape`` stage (mapInArrow works unchanged on
streaming DataFrames; the spec compiles once per executor and is
reused across micro-batches) → windowed aggregations with watermarks for late data →
``writeStream`` sink.

Stateful sessionization for streams uses ``session_window`` (gap-based
session windows with watermark-driven state eviction) — the streaming
analogue of the batch gap-cumsum sessionizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluvio_jolt_spark.operators.reshape import jolt_reshape

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_transcript_stream(
    spark, path: str, schema: str = TRANSCRIPT_DDL, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-based streaming source (stand-in for Kafka/Fluvio; swap
    `.format("kafka")` + value deserialization for a broker source)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def decode_kafka_transcripts(
    kafka_df: DataFrame,
    schema: str = TRANSCRIPT_DDL,
    ts_from_broker: bool = True,
    drop_malformed: bool = True,
) -> DataFrame:
    """Kafka wire rows → transcript rows: ``value`` (binary JSON) is
    parsed with ``from_json``; a record with no ``ts`` field falls back
    to the broker ingestion timestamp when ts_from_broker is set (the
    usual broker-map convention — the reference's SmartModule receives
    the record's broker timestamp the same way).

    Pure column transforms over the standard Kafka source schema
    (key/value binary + topic/partition/offset/timestamp), so the
    decode path is unit-testable on a static DataFrame without a
    broker. Malformed JSON is detected via from_json's
    columnNameOfCorruptRecord (PERMISSIVE parses to all-NULL fields,
    which would be indistinguishable from a valid all-null record);
    drop_malformed filters those rows (set False to keep them as
    all-NULL rows for a dead-letter branch)."""
    rec = F.from_json(
        F.col("value").cast("string"),
        schema + ", _corrupt string",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    out = kafka_df.select(rec.alias("_r"), F.col("timestamp").alias("_broker_ts"))
    if drop_malformed:
        out = out.filter(F.col("_r._corrupt").isNull())
    out = out.select("_r.*", "_broker_ts").drop("_corrupt")
    if ts_from_broker:
        out = out.withColumn("ts", F.coalesce(F.col("ts"), F.col("_broker_ts")))
    return out.drop("_broker_ts")


def read_transcript_kafka_stream(
    spark,
    bootstrap_servers: str,
    topic: str,
    schema: str = TRANSCRIPT_DDL,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: "int | None" = None,
) -> DataFrame:
    """Broker streaming source — the direct analogue of the reference's
    Fluvio-topic SmartModule host (smartmodule/src/lib.rs:35-44):
    ``.format("kafka")`` → JSON value decode → the same downstream
    stages as the file source.

    Construction-time-checked like IcebergSource: raises immediately
    with an actionable message when the spark-sql-kafka connector jar is
    absent (as in this sandbox), rather than failing mid-stream. The
    decode stage is factored into ``decode_kafka_transcripts`` so it
    stays testable without a broker."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except Exception:
        raise RuntimeError(
            "spark-sql-kafka-0-10 connector not on the classpath; add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via --packages, "
            "or use read_transcript_stream (file source)"
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        raw = raw.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return decode_kafka_transcripts(raw.load(), schema)


def stream_reshape(stream_df: DataFrame, spec_json: str, columns="text") -> DataFrame:
    """The batch reshape stage applied to a streaming DataFrame —
    identical code path; Spark runs it per micro-batch."""
    return jolt_reshape(stream_df, spec_json, columns=columns)


def stream_session_agg(
    stream_df: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-conversation session aggregates via native session windows;
    the watermark bounds state (late turns beyond it are dropped —
    the streaming trade-off vs the exact batch sessionizer)."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(
                (F.col("tool").isNotNull() & (F.col("tool") != "")).cast("int")
            ).alias("n_tool_calls"),
        )
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_turns",
            "n_tool_calls",
        )
    )


def stream_running_tool_counts(
    stream_df: DataFrame, timeout: str = "NoTimeout"
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per
    conversation, a running tool-call count and turn count carried in
    state across micro-batches (the streaming analogue of the batch
    cumulative features — exact regardless of batch boundaries, state
    O(1) per conversation)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    output_schema = "conv_id string, turns_seen long, tool_calls_seen long"
    state_schema = "turns_seen long, tool_calls_seen long"

    def update(key, pdfs, state: GroupState):
        turns, tools = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            turns += len(pdf)
            tools += int(((pdf["tool"].notna()) & (pdf["tool"] != "")).sum())
        state.update((turns, tools))
        yield pd.DataFrame(
            {"conv_id": [key[0]], "turns_seen": [turns], "tool_calls_seen": [tools]}
        )

    return (
        stream_df.groupBy("conv_id")
        .applyInPandasWithState(update, output_schema, state_schema, "update", timeout)
    )


def stream_first_seen_docs(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    timeout: str = "NoTimeout",
    double_hash: bool = False,
    ts_col: "str | None" = None,
    ttl: "str | None" = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming exact deduplication: emit each distinct document
    content ONCE, in the first micro-batch where it arrives (the
    training-ingest shape: a firehose of documents, keep first-seen).

    State is O(1) per distinct content — (count seen), keyed by
    (xxhash64(text), length) like the batch ``exact_dedup`` (the text
    itself never enters state). Within the arrival batch the minimum
    id wins (deterministic given the batch division); later copies
    only bump the state counter and emit nothing. Use the batch
    ``exact_dedup`` for retrospective dedup; this operator is its
    at-ingest streaming complement.

    Collision contract: dedup identity IS the (64-bit xxhash64, length)
    pair — a full-key collision silently and permanently suppresses one
    distinct document, with no verify pass (unlike the LSH pipelines,
    which verify candidates against real content). Expected collisions
    over N distinct docs ~ N^2/2^65 per length class: negligible below
    ~10^8 docs, material at web scale. ``double_hash=True`` adds an
    independent md5-derived 60-bit hash to the state key (state grows
    8 B/doc), pushing the collision probability below ~1e-30 at any
    realistic corpus size; output schema is unchanged.

    State bounding: with ``ttl`` (e.g. ``"2 hours"``) + ``ts_col``, the
    operator switches to EventTimeTimeout: a content's state entry is
    evicted once the event-time watermark passes (last-seen ts + ttl).
    First-seen semantics are exact INSIDE the horizon; a copy arriving
    after its original's eviction re-emits (bounded-recall dedup — the
    production knob that keeps state from growing O(#distinct ever)).
    ``watermark_delay`` is the lateness allowance fed to
    ``withWatermark`` (pre-watermarked inputs are used as-is).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = f"content_hash long, content_len int, {id_col} long"
    state_schema = "seen long"

    ttl_ms: "int | None" = None
    if ttl is not None:
        if ts_col is None:
            raise ValueError("ttl requires ts_col (event-time column)")
        n, unit = ttl.split()
        ttl_ms = int(n) * {
            "millisecond": 1, "milliseconds": 1,
            "second": 1000, "seconds": 1000,
            "minute": 60_000, "minutes": 60_000,
            "hour": 3_600_000, "hours": 3_600_000,
            "day": 86_400_000, "days": 86_400_000,
        }[unit.lower()]
        timeout = "EventTimeTimeout"
        # TTL epoch math requires a UTC session: applyInPandasWithState
        # delivers tz-NAIVE timestamps rendered in spark.sql.session.timeZone,
        # and pandas Timestamp.timestamp() interprets naive values as UTC —
        # under any other session zone the computed eviction horizon would
        # silently skew by the zone offset (and can trip Spark's
        # timeout-before-watermark check). The repo's build_session pins
        # UTC; this is the guard for externally built sessions.
        session_tz = stream_df.sparkSession.conf.get("spark.sql.session.timeZone")
        if session_tz not in ("UTC", "Etc/UTC", "GMT"):
            raise ValueError(
                "stream_first_seen_docs(ttl=...) requires "
                f"spark.sql.session.timeZone=UTC (got {session_tz!r}): the "
                "event-time timeout epoch is computed from tz-naive state "
                "timestamps interpreted as UTC"
            )
        if stream_df.isStreaming and not _has_watermark(stream_df):
            stream_df = stream_df.withWatermark(ts_col, watermark_delay)

    cols = [
        F.xxhash64(F.col(text_col)).alias("_h"),
        F.length(F.col(text_col)).alias("_len"),
        F.col(id_col),
    ]
    key_cols = ["_h", "_len"]
    if double_hash:
        from fluvio_jolt_spark.operators.dedup import md5_60

        cols.append(md5_60(F.col(text_col)).alias("_h2"))
        key_cols.append("_h2")
    if ttl_ms is not None:
        cols.append(F.col(ts_col).alias("_ts"))

    keyed = stream_df.select(*cols)

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        seen = state.get[0] if state.exists else 0
        first = None
        n_new = 0
        max_ts_ms = None
        for pdf in pdfs:
            if len(pdf):
                n_new += len(pdf)
                m = int(pdf[id_col].min())
                first = m if first is None else min(first, m)
                if ttl_ms is not None:
                    t = int(pdf["_ts"].max().timestamp() * 1000)
                    max_ts_ms = t if max_ts_ms is None else max(max_ts_ms, t)
        state.update((seen + n_new,))
        if ttl_ms is not None and max_ts_ms is not None:
            state.setTimeoutTimestamp(max_ts_ms + ttl_ms)
        if seen == 0 and first is not None:
            yield pd.DataFrame(
                {"content_hash": [key[0]], "content_len": [key[1]], id_col: [first]}
            )

    return keyed.groupBy(*key_cols).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def _has_watermark(df: DataFrame) -> bool:
    """True when the streaming DataFrame already carries an event-time
    watermark (so stream_first_seen_docs won't stack a second one)."""
    try:
        return "EventTimeWatermark" in df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False


def stream_decayed_activity(
    stream_df: DataFrame,
    tau_s: float,
    key_col: str = "user_id",
    id_col: str = "event_id",
    ts_col: str = "ts",
    value_col: "str | None" = None,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Streaming exponentially time-decayed activity — the at-ingest
    complement of ``operators.window_features.with_decayed_sum``. Emits,
    for every input event, the decayed event count (and decayed value
    sum when ``value_col`` is given) at that event's timestamp.

    The decayed sum has an O(1)-state streaming form: carrying
    S = sum_j v_j * exp((e_j - frontier)/tau) anchored at the newest
    seen event, each new event re-anchors with one multiply —
    S' = S * exp(-(e - frontier)/tau) + v. State per key is 4 scalars
    (frontier epoch, decayed count, decayed value, non-null count),
    independent of history length — no window buffer, unbounded
    retention without unbounded state.

    Parity contract (pinned by test): output equals the batch operator
    within float tolerance (the recurrence associates the same sum
    differently) when events arrive in event-time order across
    micro-batches and ties share a batch. Within a batch rows are
    processed in (ts, id) order with tied timestamps folded together
    first (the batch RANGE-frame semantics). A row arriving BEHIND the
    carried frontier (late data) decays from the frontier with dt
    clamped to 0 — contributions are never amplified; exact late
    handling would require retraction, which no streaming engine's
    append mode expresses.

    Requires a UTC session timezone (same epoch-math contract as
    ``stream_first_seen_docs(ttl=...)``): timestamps surface tz-naive
    in the session zone and are read as UTC epochs.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    session_tz = stream_df.sparkSession.conf.get("spark.sql.session.timeZone")
    if session_tz not in ("UTC", "Etc/UTC", "GMT"):
        raise ValueError(
            "stream_decayed_activity requires spark.sql.session.timeZone=UTC "
            f"(got {session_tz!r}): state epochs are computed from tz-naive "
            "timestamps interpreted as UTC"
        )

    key_type = dict(stream_df.dtypes)[key_col]
    out_schema = (
        f"{key_col} {key_type}, {id_col} long, "
        "decayed_count double, decayed_value double"
    )
    state_schema = "frontier double, s_count double, s_value double, n_value long"
    tau = float(tau_s)

    def update(key, pdfs, state: GroupState):
        import math

        if state.exists:
            frontier, s_count, s_value, n_value = state.get
        else:
            frontier, s_count, s_value, n_value = None, 0.0, 0.0, 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
        # normalize to ns first: Arrow batches can surface datetime64[us],
        # where a bare astype(int64) would be off by 1000×
        ep = (
            pdf[ts_col].to_numpy(dtype="datetime64[ns]").astype("int64") / 1e9
        )  # tz-naive == UTC under the asserted session zone
        vals = (
            pdf[value_col].to_numpy(dtype=object)
            if value_col is not None
            else [1.0] * len(pdf)
        )
        ids = pdf[id_col].to_numpy()
        out_ids, out_dc, out_dv = [], [], []
        i = 0
        while i < len(pdf):
            # fold tied timestamps together: batch RANGE-frame semantics
            j = i
            while j < len(pdf) and ep[j] == ep[i]:
                j += 1
            dt = 0.0 if frontier is None else max(0.0, ep[i] - frontier)
            factor = math.exp(-dt / tau)
            s_count *= factor
            s_value *= factor
            for k in range(i, j):
                v = vals[k] if value_col is not None else 1.0
                s_count += 1.0
                if v is not None and not (isinstance(v, float) and math.isnan(v)):
                    s_value += float(v)
                    n_value += 1
            frontier = max(frontier, ep[i]) if frontier is not None else ep[i]
            for k in range(i, j):
                out_ids.append(int(ids[k]))
                out_dc.append(s_count)
                out_dv.append(s_value if n_value > 0 else None)
            i = j
        state.update((frontier, s_count, s_value, n_value))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(out_ids),
                id_col: out_ids,
                "decayed_count": out_dc,
                "decayed_value": out_dv,
            }
        )

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(update, out_schema, state_schema, "update", timeout)
    )


def stream_sessionize(
    stream_df: DataFrame,
    session_gap_s: int = 1800,
    key_col: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Streaming twin of the batch sessionizer: emits per arriving turn
    the same (session_id, turn_in_session) that
    ``operators.window_features.with_turn_features`` assigns (0-based
    gap-threshold sessionization) — at-ingest session features without
    waiting for the conversation to close (which the native
    session-window aggregate ``stream_session_agg`` must).

    State per conversation is 3 scalars — (last event epoch µs,
    session_id, turn_in_session) — independent of conversation length.
    The gap test is exact integer µs (the batch operator's double
    division compares identically off the boundary). Parity contract
    (pinned by test): output equals the batch sessionizer when turns
    arrive in (turn_idx, ts) order across micro-batches — the
    transcript ingest order; a turn arriving out of order joins the
    CURRENT session (its gap is measured against the previously
    processed turn — exactly the batch lag() semantics, which also
    covers jittered non-monotone timestamps), where a batch recompute
    would splice it historically — the same in-order contract as
    ``stream_decayed_activity``.

    Default NoTimeout: evicting an idle conversation's 3-scalar state
    would restart its session numbering on revival, so eviction is the
    caller's explicit choice (pass a GroupStateTimeout and accept
    renumbering after the horizon).

    Requires a UTC session timezone (same epoch-math contract as the
    other stateful operators here).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    session_tz = stream_df.sparkSession.conf.get("spark.sql.session.timeZone")
    if session_tz not in ("UTC", "Etc/UTC", "GMT"):
        raise ValueError(
            "stream_sessionize requires spark.sql.session.timeZone=UTC "
            f"(got {session_tz!r}): state epochs are computed from tz-naive "
            "timestamps interpreted as UTC"
        )

    key_type = dict(stream_df.dtypes)[key_col]
    out_schema = (
        f"{key_col} {key_type}, {idx_col} long, "
        "session_id long, turn_in_session long"
    )
    state_schema = "last_ep long, session_id long, turn_in_session long"
    gap_us = int(session_gap_s) * 1_000_000

    def update(key, pdfs, state: GroupState):
        if state.exists:
            last_ep, sid, tis = state.get
        else:
            last_ep, sid, tis = None, None, None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values([idx_col, ts_col], kind="mergesort")
        ep = pdf[ts_col].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
        idxs = pdf[idx_col].to_numpy()
        out_sid, out_tis = [], []
        for k in range(len(pdf)):
            e = int(ep[k])
            if last_ep is None:
                sid, tis = 0, 0
            elif e - last_ep > gap_us:
                sid, tis = sid + 1, 0
            else:
                tis += 1
            # lag semantics, exactly as the batch operator: the gap is
            # measured against the PREVIOUS turn's ts (which may move
            # backward on jittered timestamps), not the max seen
            last_ep = e
            out_sid.append(sid)
            out_tis.append(tis)
        state.update((int(last_ep), int(sid), int(tis)))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(pdf),
                idx_col: [int(i) for i in idxs],
                "session_id": out_sid,
                "turn_in_session": out_tis,
            }
        )

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(update, out_schema, state_schema, "update", timeout)
    )


def stream_asof_enrich(
    stream_df: DataFrame,
    snaps: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    on: str = "ts",
    right_on: str = "snap_ts",
    by: str = "conv_id",
):
    """Point-in-time enrichment of a stream against a static (or
    slowly-refreshed) snapshot table via foreachBatch: every micro-batch
    runs the exact batch as-of join. With a static right side the
    result is per-row exact regardless of how rows split into batches
    (no cross-batch state needed — each left row's answer depends only
    on itself and the right table), so batch ≡ stream holds bit-for-bit
    and is pinned by test.

    Exactly-once output: the checkpoint replays a failed batch with the
    SAME batch_id, and each batch overwrites its own ``batch=<id>``
    directory — so a crash mid-write leaves a partial directory that
    the replay replaces, never duplicates (plain append would be
    at-least-once). Pinned by a kill-after-partial-write test.

    At scale: the right side is typically small (per-entity snapshots),
    so the per-batch union-window runs over batch-rows + snapshot-rows
    partitioned by entity — the same single-shuffle plan as batch.
    """
    from fluvio_jolt_spark.operators.asof import asof_join

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        asof_join(bdf, snaps, on=on, right_on=right_on, by=by).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch={batch_id}")

    q = (
        stream_df.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ev_ts",
    lower_s: float = 0.0,
    upper_s: float = 300.0,
    watermark_delay: str = "10 minutes",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream join of two live sources on an equality key plus an
    event-time interval: left row l pairs with right rows r where
    ``r.key == l.key`` and ``l.ts + lower <= r.ev_ts <= l.ts + upper``
    — e.g. transcript turns joined to the tool-result/telemetry events
    they triggered within the next five minutes, while BOTH sides are
    still flowing.

    This is Spark's native watermarked stream-stream join, not a
    foreachBatch emulation (``stream_asof_enrich`` covers the
    stream-against-static case): the time-interval condition plus the
    two watermarks let the engine compute, per side, exactly how long a
    buffered row can still find a partner, and evict state past that
    bound — the property that makes the join runnable forever at
    10^12-turn scale. Without the interval bounds the state would grow
    without limit (Spark would reject outer variants outright).

    Late rows (event time older than watermark - delay) are dropped by
    the watermark on ingestion, so ``watermark_delay`` is the
    correctness/state-size dial: delay >= the real out-of-orderness
    bound makes streaming output equal the batch join (pinned by the
    batch-parity test).

    ``join_type``: "inner" (default) or "leftOuter" — outer emits
    unmatched left rows with NULL right columns once the watermark
    proves no partner can arrive (left rows must carry the watermark
    column; Spark enforces the bounds).

    Right-side columns are emitted under their own names; the right key
    column is renamed ``<key>_r`` so callers see both join keys."""
    lo_us = int(round(lower_s * 1_000_000))
    hi_us = int(round(upper_s * 1_000_000))
    if hi_us < lo_us:
        raise ValueError("upper_s must be >= lower_s")
    l = left.withWatermark(left_ts, watermark_delay).alias("l")
    r = (
        right.withColumnRenamed(key, f"{key}_r")
        .withWatermark(right_ts, watermark_delay)
        .alias("r")
    )
    # The range predicate must be direct timestamp +/- INTERVAL
    # arithmetic on the two event-time columns: that is the shape
    # Spark's stream-stream join planner pattern-matches to derive the
    # per-side state-eviction watermarks (unix_micros() arithmetic is
    # semantically identical but opaque to that analysis, which would
    # leave inner-join state unbounded and reject outer joins).
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}_r"))
        & F.expr(
            f"r.{right_ts} >= l.{left_ts} + INTERVAL {lo_us} MICROSECOND"
        )
        & F.expr(
            f"r.{right_ts} <= l.{left_ts} + INTERVAL {hi_us} MICROSECOND"
        )
    )
    return l.join(r, cond, join_type)


def run_stream_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming query synchronously to completion over the
    currently-available input (test/demo harness)."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_heavy_hitters(
    stream_df: DataFrame,
    key_col: str = "event_type",
    n_buckets: int = 8,
    capacity: int = 16,
) -> DataFrame:
    """Streaming heavy hitters (frequent items) via bucketed
    space-saving sketches — the at-ingest "what's trending / what's
    flooding" monitor: per hash-bucket of the key space, a bounded
    summary of at most ``capacity`` (key, count, err) entries with the
    space-saving guarantees (count_est ≥ true_count and
    count_est − err ≤ true_count; any key whose true count exceeds
    bucket_total/capacity is guaranteed present).

    The global sketch is sharded by ``hash(key) % n_buckets`` so state
    AND update work parallelize across n_buckets independent groups
    (each key lives in exactly one bucket, so per-key estimates never
    need cross-bucket merging); total state is bounded at
    n_buckets × capacity entries regardless of stream cardinality —
    the property that lets this run forever on an unbounded key space.
    Consumers take the global top-k by cnt over the latest summaries.

    Batch-merged space-saving: within a micro-batch each key's
    occurrences fold in one step (present → cnt += c; room → insert
    (c, 0); full → evict the current min m, insert (m + c, err=m)),
    applied in deterministic (-batch_count, key) order, so results are
    reproducible given the same batch division.  NULL keys are dropped
    (count them upstream if they matter).  Each micro-batch re-emits
    the bucket's full current summary (output mode "update"); the
    latest emission per (bucket, key) is the current estimate.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = "bucket int, key string, cnt long, err long"
    state_schema = "keys array<string>, counts array<long>, errs array<long>"

    keyed = stream_df.filter(F.col(key_col).isNotNull()).select(
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(int(n_buckets)))
        .cast("int")
        .alias("_bucket"),
        F.col(key_col).cast("string").alias("_k"),
    )

    cap = int(capacity)

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:  # pragma: no cover - NoTimeout operator
            state.remove()
            return
        if state.exists:
            ks, cs, es = state.get
            summ = {k: [int(c), int(e)] for k, c, e in zip(ks, cs, es)}
        else:
            summ = {}
        batch: "dict[str, int]" = {}
        for pdf in pdfs:
            if len(pdf):
                for k, c in pdf["_k"].value_counts().items():
                    batch[k] = batch.get(k, 0) + int(c)
        for k in sorted(batch, key=lambda k: (-batch[k], k)):
            c = batch[k]
            if k in summ:
                summ[k][0] += c
            elif len(summ) < cap:
                summ[k] = [c, 0]
            else:
                victim = min(summ, key=lambda k2: (summ[k2][0], k2))
                m = summ[victim][0]
                del summ[victim]
                summ[k] = [m + c, m]
        items = sorted(summ.items(), key=lambda kv: (-kv[1][0], kv[0]))
        state.update((
            [k for k, _ in items],
            [v[0] for _, v in items],
            [v[1] for _, v in items],
        ))
        yield pd.DataFrame({
            "bucket": [int(key[0])] * len(items),
            "key": [k for k, _ in items],
            "cnt": [v[0] for _, v in items],
            "err": [v[1] for _, v in items],
        })

    return keyed.groupBy("_bucket").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )
