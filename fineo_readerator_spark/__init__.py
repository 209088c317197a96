"""fineo_readerator_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the ``jyates/fineo-readerator`` reference
(a multi-tenant SQL read layer over time-partitioned stores).

Architecture (Spark-first, not a port):

- ``schema_store``   tenant/metric registry: canonical fields, types, aliases
                     (reference: fineo-adapter-drill .../schema/FineoTable.java)
- ``sources``        source tables per metric: historical parquet/json dirs and
                     nearline snapshot tables owning a time window
                     (reference: SubTableScanBuilder.java, DynamoTimestampHandler.java)
- ``recombinator``   build_metric_df(): alias→canonical coalesce + casts, the
                     ``_fm`` unknown-field map, per-source filters, anti-overlap
                     cutover, unionByName, final timestamp sort
                     (reference: recombinator/logical/FineoRecombinatorRule.java,
                      recombinator/physical/batch/RecombinatorRecordBatch.java)
- ``pruning``        timestamp ranges from Spark's parse of predicates, and
                     source selection (reference: partition/TimestampExpressionBuilder.java,
                      ConvertFineoMarkerIntoFilteredInputTables.java)
- ``operators``      nearline item expansion (reference: DynamoExpanderBatch.java)
- ``catalog`` / ``api``  tenant-scoped views, INFORMATION_SCHEMA parity, errors
                     table with forced apikey filter, read-only query entry
                     (reference: readerator/server, fineo-reparser)
- ``llm_ops``        large-scale training-data pipeline operators: dedup,
                     similarity search, multimodal columns, text analysis
- ``streaming``      Structured Streaming over event sources

Everything is declarative DataFrame construction — Catalyst handles filter and
projection pushdown, partition pruning, and join planning; the only custom
logic is resolve-time source selection and projection building.
"""

from fineo_readerator_spark.schema_store import FieldDef, MetricSchema, SchemaStore
from fineo_readerator_spark.sources import SourceSpec, TimeRange
from fineo_readerator_spark.recombinator import build_metric_df

__version__ = "0.1.0"

__all__ = [
    "FieldDef",
    "MetricSchema",
    "SchemaStore",
    "SourceSpec",
    "TimeRange",
    "build_metric_df",
    "__version__",
]
