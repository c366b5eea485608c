"""Structured Streaming: the reshape stage over a file stream, checked
against the batch reshape, and the Kafka source's decode and
construction checks."""

from __future__ import annotations

import pytest

from fluvio_jolt_spark.operators.reshape import jolt_reshape, reference_bench_spec
from fluvio_jolt_spark.sources.transcripts import materialize
from fluvio_jolt_spark.streaming.stream_reshape import (
    read_transcript_stream,
    run_stream_to_memory,
    stream_reshape,
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """A small transcript table split into several parquet files so the
    file stream sees multiple micro-batches."""
    tpath, _ = materialize(n_turns=2000)
    d = tmp_path_factory.mktemp("stream_in")
    df = spark.read.parquet(str(tpath)).repartition(5)
    df.write.mode("overwrite").parquet(str(d / "turns"))
    return str(d / "turns")


def test_stream_reshape_matches_batch(spark, stream_dir):
    spec = reference_bench_spec()
    stream = stream_reshape(
        read_transcript_stream(spark, stream_dir, max_files_per_trigger=2), spec
    ).select("conv_id", "turn_idx", "text_reshaped", "text_error")
    run_stream_to_memory(stream, "reshape_out")
    got = spark.sql("SELECT * FROM reshape_out").toPandas()

    batch = (
        jolt_reshape(spark.read.parquet(stream_dir), spec)
        .select("conv_id", "turn_idx", "text_reshaped", "text_error")
        .toPandas()
    )
    key = ["conv_id", "turn_idx"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    assert len(got) == len(batch) > 0
    assert (got.text_reshaped == batch.text_reshaped).all()
    assert got.text_error.isna().all()


def test_kafka_value_decode_path(spark):
    """decode_kafka_transcripts over a static frame with the standard
    Kafka source schema: JSON values decode to transcript columns, a
    record without ts falls back to the broker timestamp, malformed
    JSON is dropped."""
    import datetime as dt

    from fluvio_jolt_spark.streaming.stream_reshape import decode_kafka_transcripts

    broker_ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (
            b"k1",
            b'{"conv_id":"c1","turn_idx":0,"role":"user","text":"hi","tool":"","ts":"2024-01-01T00:00:00"}',
            "turns", 0, 0, broker_ts,
        ),
        (  # no ts field -> broker timestamp
            b"k2",
            b'{"conv_id":"c1","turn_idx":1,"role":"assistant","text":"yo","tool":""}',
            "turns", 0, 1, broker_ts,
        ),
        (b"k3", b"not json at all", "turns", 0, 2, broker_ts),
    ]
    kafka_schema = (
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp"
    )
    raw = spark.createDataFrame(rows, schema=kafka_schema)

    out = decode_kafka_transcripts(raw).orderBy("turn_idx").toPandas()
    assert out.conv_id.tolist() == ["c1", "c1"]
    assert out.ts.iloc[0] == dt.datetime(2024, 1, 1, 0, 0, 0)
    assert out.ts.iloc[1] == broker_ts
    assert list(out.columns) == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_kafka_reader_fails_fast_without_connector(spark):
    """Without the spark-sql-kafka jar on the classpath, construction
    must raise immediately with an actionable message, not mid-stream,
    and keep the JVM's class-lookup error as the cause."""
    from py4j.protocol import Py4JJavaError

    from fluvio_jolt_spark.streaming.stream_reshape import read_transcript_kafka_stream

    with pytest.raises(RuntimeError, match="spark-sql-kafka") as excinfo:
        read_transcript_kafka_stream(spark, "broker:9092", "turns")
    assert isinstance(excinfo.value.__cause__, Py4JJavaError)

