"""vnavc_spark — a PySpark-native analytics/data-pipeline engine.

Re-implements the query and data-processing semantics of the reference
TTS data pipeline (quochuy242/VNAVC, surveyed in SURVEY.md) as an
idiomatic Spark engine: declarative DataFrame/SQL plans optimized by
Catalyst, pandas-UDF islands only where built-ins cannot express the
semantics (Vietnamese NLP, audio), and stage outputs that several
actions read persisted through ``cache.tracked_persist``.

Layout:
    session     — tuned SparkSession factory (AQE, Arrow, UTC)
    schemas     — explicit StructTypes for every pipeline table
    io          — testdata table readers
    functions/  — scalar/column function library (text, vietnamese,
                  quality, vector)
    operators/  — relational operator library (filters, joins,
                  aggregates, ordering, restructure, dedup, similarity,
                  sampling)
    pipeline/   — stage-level transforms (metadata, text, audio,
                  alignment, qc, publish)
    streaming/  — Structured Streaming ingest (watermark dedup,
                  windowed stats)
"""

from vnavc_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
