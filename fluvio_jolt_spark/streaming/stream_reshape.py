"""Structured Streaming wiring for the reshape stage.

The reference's streaming form is a per-record SmartModule map over a
Fluvio topic (smartmodule/src/lib.rs:35-44). The Spark-native
equivalent is a stateless map: ``readStream`` (file or Kafka source) →
the SAME ``jolt_reshape`` stage (mapInArrow works unchanged on
streaming DataFrames; the spec compiles once per executor and is
reused across micro-batches) → ``writeStream`` sink.

Features that need state (running counts, sessions, dedup, decayed
sums, as-of and interval joins) are batch operators under
``fluvio_jolt_spark.operators``; this module adds no streaming copy of
them.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
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


def decode_kafka_transcripts(kafka_df: DataFrame, schema: str = TRANSCRIPT_DDL) -> DataFrame:
    """Kafka wire rows → transcript rows: ``value`` (binary JSON) is
    parsed with ``from_json``; a record with no ``ts`` field falls back
    to the broker ingestion timestamp (the usual broker-map convention —
    the reference's SmartModule receives the record's broker timestamp
    the same way).

    Pure column transforms over the standard Kafka source schema
    (key/value binary + topic/partition/offset/timestamp), so the
    decode path is unit-testable on a static DataFrame without a
    broker. Malformed JSON is dropped. It is detected via from_json's
    columnNameOfCorruptRecord, because PERMISSIVE parses it to all-NULL
    fields, which would be indistinguishable from a valid all-null
    record."""
    rec = F.from_json(
        F.col("value").cast("string"),
        schema + ", _corrupt string",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    return (
        kafka_df.select(rec.alias("_r"), F.col("timestamp").alias("_broker_ts"))
        .filter(F.col("_r._corrupt").isNull())
        .select("_r.*", "_broker_ts")
        .drop("_corrupt")
        .withColumn("ts", F.coalesce(F.col("ts"), F.col("_broker_ts")))
        .drop("_broker_ts")
    )


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
    absent, rather than failing mid-stream. The decode stage is factored
    into ``decode_kafka_transcripts`` so it stays testable without a
    broker."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except Py4JJavaError as e:
        raise RuntimeError(
            "spark-sql-kafka-0-10 connector not on the classpath; add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via --packages, "
            "or use read_transcript_stream (file source)"
        ) from e
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


def run_stream_to_memory(df: DataFrame, name: str):
    """Drive a streaming query synchronously to completion over the
    currently-available input (test/demo harness). Append mode: the
    reshape map emits each row once and keeps no state."""
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
