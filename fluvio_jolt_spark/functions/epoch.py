"""Timestamp normalization helpers — a leaf module (imports nothing
from this package) so every operator can depend on it without cycles.

The problem this solves: parquet files written with naive timestamps
read back as TIMESTAMP_NTZ under a stock Spark 4 session
(``spark.sql.parquet.inferTimestampNTZ.enabled`` defaults to true), and
NTZ columns reject ``unix_micros`` and numeric casts outright
(DATATYPE_MISMATCH). Operators must therefore never assume the LTZ
type the tuned ``plans.session.build_session`` produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


def ensure_ltz(df: DataFrame, *cols: str) -> DataFrame:
    """Normalize naive (TIMESTAMP_NTZ) columns to proper instants,
    interpreting the stored wall-clock as UTC — the same convention
    DuckDB's ``epoch_us`` applies to naive parquet timestamps.

    No-op for columns already TIMESTAMP/LTZ (or absent), and correct
    under any session timezone: ``convert_timezone('UTC', session_tz)``
    shifts the wall-clock so the subsequent LTZ cast (which interprets
    in session tz) lands on the exact UTC instant. Under a UTC session
    both steps are identities, so there is no runtime cost in the tuned
    configuration.
    """
    for c in cols:
        if c in df.columns and isinstance(df.schema[c].dataType, TimestampNTZType):
            df = df.withColumn(
                c,
                F.convert_timezone(F.lit("UTC"), F.current_timezone(), F.col(c)).cast(
                    "timestamp"
                ),
            )
    return df


def ensure_ltz_all(df: DataFrame) -> DataFrame:
    """``ensure_ltz`` over every NTZ column in the frame."""
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    return ensure_ltz(df, *ntz)
