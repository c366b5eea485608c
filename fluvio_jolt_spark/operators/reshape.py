"""Vectorized Jolt reshape stage: the Spark analogue of the reference's
SmartModule map (reference smartmodule/src/lib.rs:35-44).

Design (SURVEY.md §3 "Our Spark lifecycle"):

* The spec travels as a JSON string in the task closure (small, constant)
  and is compiled ONCE PER EXECUTOR via a module-level memo
  (jolt.compiler.compile_spec_cached) — the Python analogue of the
  SmartModule's OnceCell init.
* Records cross the JVM→Python boundary in Arrow batches
  (``mapInArrow``); the per-record tree walk happens inside the batch
  in the C-accelerated json/dict layer — no per-row Spark-level Python
  UDF dispatch. Passthrough columns ride through as untouched Arrow
  buffers; only the processed JSON columns become Python strings.
* A failed record never kills the job: its error lands in a dead-letter
  column (``<col>_error``) and the output column is null, deviating
  deliberately from the reference's fail-record semantics at the
  host level (a 10^12-row job must not die on one bad payload). The
  strict mode (``on_error="fail"``) reproduces reference behavior.
* JSON payloads stay StringType end-to-end: Python dicts preserve
  insertion order, Spark MapType does not — strings are the only
  carrier for the byte-for-byte per-turn text-equality invariant.
"""

from __future__ import annotations

import json
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def jolt_transform_values(values, spec_json: str, on_error: str = "null") -> tuple:
    """Apply a compiled Jolt spec to an iterable of JSON strings.

    Returns (out: list[str|None], err: list[str|None]) — the core of
    the Arrow batch path and the pure-Python reference the Spark stage
    is tested against. Import of the jolt package happens lazily so the
    worker only pays for it once; the spec compile is memoized per
    executor.
    """
    from fluvio_jolt_spark.jolt.compiler import compile_spec_cached
    from fluvio_jolt_spark.jolt.transform import _orjson, dumps_canonical, transform

    spec = compile_spec_cached(spec_json)
    out = []
    errs = []
    loads = _orjson.loads if _orjson is not None else json.loads
    for text in values:
        if text is None:
            out.append(None)
            errs.append(None)
            continue
        try:
            out.append(dumps_canonical(transform(loads(text), spec, copy_input=False)))
            errs.append(None)
        except Exception as e:  # noqa: BLE001 — dead-letter anything
            if on_error == "fail":
                raise
            out.append(None)
            errs.append(f"{type(e).__name__}: {e}")
    return out, errs


def jolt_reshape(
    df: DataFrame,
    spec_json: str,
    columns: list[str] | str = "text",
    on_error: str = "null",
    suffix: str = "_reshaped",
) -> DataFrame:
    """Reshape one or more JSON-string columns through a Jolt spec.

    Appends ``<col><suffix>`` and ``<col>_error`` columns for each input
    column; all other columns pass through untouched. Narrow operation
    on well-partitioned input: no shuffle, preserves partitioning,
    pipelines with up/downstream stages in the same task. When the input
    arrives with fewer partitions than the session's cores (single
    unsplittable file), ``fan_out`` repartitions it first so the
    per-record Python kernel uses every worker instead of one (guide
    §2.5 input-skew repair; a no-op on healthy inputs and streams).
    """
    if isinstance(columns, str):
        columns = [columns]
    for c in columns:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in DataFrame ({df.columns})")
    # validate the spec on the driver so bad specs fail fast, not per-task
    from fluvio_jolt_spark.jolt.compiler import TransformSpec

    TransformSpec.from_json(spec_json)

    from fluvio_jolt_spark.operators.partitioning import fan_out

    df = fan_out(df)

    out_fields = list(df.schema.fields)
    for c in columns:
        out_fields.append(T.StructField(c + suffix, T.StringType(), True))
        out_fields.append(T.StructField(c + "_error", T.StringType(), True))
    out_schema = T.StructType(out_fields)

    def reshape_arrow(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = list(batch.schema.names)
            arrays = list(batch.columns)
            for c in columns:
                vals = batch.column(names.index(c)).to_pylist()
                out, errs = jolt_transform_values(vals, spec_json, on_error)
                arrays.append(pa.array(out, type=pa.string()))
                arrays.append(pa.array(errs, type=pa.string()))
                names.append(c + suffix)
                names.append(c + "_error")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(reshape_arrow, schema=out_schema)


def reference_bench_spec() -> str:
    """The reference's benchmark pipeline (benches/spec.json:1-24):
    remove 3 keys → shift with pipes+& → default 1 key. Reproduced here
    (it is a *spec*, i.e. query text, not engine code) with `&` instead
    of the bench file's `&0` so output keys match the golden fixture
    from_benchmark.json:55-69."""
    return json.dumps(
        [
            {
                "operation": "remove",
                "spec": {"_id": "", "friends": "", "favoriteFruit": ""},
            },
            {
                "operation": "shift",
                "spec": {
                    "name|gender|age": "personal_details.&",
                    "company|email|phone": "contacts.&",
                    "balance": "balance",
                },
            },
            {"operation": "default", "spec": {"account_type": "CHECKING"}},
        ]
    )
