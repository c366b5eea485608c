"""fluvio_jolt_spark — a from-scratch PySpark-native feature-engineering
engine with the query/data-processing capabilities of infinyon/fluvio-jolt,
fused with point-in-time as-of joins and windowed transcript features.

Layers:
  jolt/       pure-Python Jolt core (shift/default/remove, DSL parser)
  operators/  Spark operators: vectorized reshape, as-of join, window
              features, sessionization, skew handling, dedup, similarity,
              text analysis, multimodal plumbing
  sources/    synthetic transcript generator + table sources (bucketed
              tables, Iceberg-ready interface)
  plans/      SparkSession building, checkpoint/lineage/metrics
  streaming/  Structured Streaming wiring for the reshape stage
"""

__version__ = "0.1.0"

from .jolt import TransformSpec, transform, transform_json  # noqa: F401
