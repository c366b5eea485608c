"""Shuffle-byte reduction: dictionary/key encoding for the hot stages.

Shuffle and sort stages are DRAM-bandwidth-bound (BENCH/BASELINE.md):
bytes-per-row through the exchanges is the scaling currency. These
helpers shrink the feature-stage rows losslessly:

* ``dict_encode``/``dict_decode`` — a low-cardinality string column
  (role: 4 values) becomes a tinyint against an explicitly captured
  dictionary. In UnsafeRow terms: a string field costs an 8-byte
  offset word + padded bytes (~24 B for "assistant"); a tinyint costs
  its fixed 8-byte word only.
* ``distinct_values`` — captures the dictionary from the data itself
  (one column-pruned, partially-aggregated pass: scan-speed on a
  dictionary-encoded parquet column), so the encoding is lossless by
  construction for the job that captured it.
* ``conv_key`` — the generator's ``conv_%08d`` ids become a plain
  long (24 B string field → 8 B word).

The per-row decode work (``get`` over a literal array) is a map-side
expression after the shuffles — it costs CPU in the embarrassingly-
parallel regime (measured 0.92 scaling) to save bytes in the
bandwidth-bound one (~0.65): exactly the right trade on both this box
and a real cluster's network.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: tinyint codes are 1-based positions, so 127 values is the hard cap.
MAX_DICT_SIZE = 127


def distinct_values(df: DataFrame, col: str, max_size: int = MAX_DICT_SIZE) -> list:
    """Sorted distinct values of a column — the captured dictionary.
    Partial aggregation makes this a scan-speed pass over one pruned
    column; cardinality must be small enough to collect (caller's
    contract — role/tool-name style columns). Raises if the column
    has more than `max_size` distinct non-NULL values, since such a
    dictionary could not be tinyint-encoded losslessly."""
    vals = sorted(
        r[0] for r in df.select(col).distinct().limit(max_size + 1).collect()
        if r[0] is not None
    )
    if len(vals) > max_size:
        raise ValueError(
            f"distinct_values({col!r}): more than {max_size} distinct values — "
            "column is not low-cardinality enough for tinyint dictionary encoding"
        )
    return vals


def dict_encode(col, values: list, strict: bool = True) -> "F.Column":
    """String → 1-based tinyint position in `values` (NULL stays NULL).

    With `strict=True` (default) a non-NULL value outside the captured
    dictionary raises at execution time instead of silently encoding to
    0 (which `dict_decode` would then turn into NULL — silent data
    corruption for callers whose dictionary wasn't captured from the
    same data). Pass `strict=False` only when the dictionary is
    guaranteed complete by construction and the extra CASE branch is
    unwanted in the plan."""
    if len(values) > MAX_DICT_SIZE:
        raise ValueError(
            f"dict_encode: dictionary has {len(values)} entries; tinyint codes "
            f"support at most {MAX_DICT_SIZE}"
        )
    arr = F.array(*[F.lit(v) for v in values])
    pos = F.array_position(arr, col).cast("tinyint")
    if not strict:
        return pos
    return (
        F.when(col.isNull(), F.lit(None).cast("tinyint"))
        .when(pos != 0, pos)
        .otherwise(
            F.raise_error(
                F.concat(F.lit("dict_encode: value not in dictionary: "), col)
            ).cast("tinyint")
        )
    )


def dict_decode(col, values: list) -> "F.Column":
    """1-based tinyint → string (NULL stays NULL — via get(), which is
    0-based and NULL-safe; element_at misbehaves on NULL indices)."""
    arr = F.array(*[F.lit(v) for v in values])
    return F.get(arr, col.cast("int") - 1)


def conv_key(col) -> "F.Column":
    """'conv_%08d' string id → long join/partition key."""
    return F.substring(col, 6, 15).cast("long")
