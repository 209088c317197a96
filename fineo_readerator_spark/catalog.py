"""Tenant-scoped catalog: metric views, INFORMATION_SCHEMA parity, errors table.

Reference behavior being re-expressed:
- One org per server instance; the tenant sees exactly its own metrics as
  tables (`readerator/server/.../FineoServer.java:64-67`,
  `FineoSchemaFactory.java:83-91`).
- INFORMATION_SCHEMA rows rewritten so the tenant sees only its own schema,
  presented under catalog ``FINEO``
  (`ischema/FineoInfoSchemaUserTranslator.java:30-103`).
- ``errors.stream`` reads carry a *forced* ``apikey = <org>`` predicate the
  user cannot remove — injected by the SQL-rewrite fork
  (`fineo-reparser/.../FineoErrorWhereForce.java:38-68`).  Here the filter is
  baked into the view definition, which is strictly stronger than query
  rewriting: there is no SQL string that bypasses it.

The INFORMATION_SCHEMA views are JVM-local relations
(``session.local_frame``): every info query reads them, and it must not
start Python worker tasks to return a handful of rows.

Deviation (documented): Spark temp views have no dotted namespaces, so
``INFORMATION_SCHEMA.TABLES`` surfaces as ``information_schema_tables``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fineo_readerator_spark.schema_store import SchemaStore, spark_type
from fineo_readerator_spark.session import local_frame
from fineo_readerator_spark.sources import SourceSpec

CATALOG_NAME = "FINEO"

ERRORS_VIEW = "errors_stream"
ERROR_COLUMNS = ["type", "stage", "event", "message", "handled_timestamp"]


def info_schema_catalogs(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [(CATALOG_NAME,)], "catalog_name string")


def info_schema_schemata(spark: SparkSession, store: SchemaStore, org: str) -> DataFrame:
    rows = [(CATALOG_NAME, org)] if store.metrics(org) else []
    return local_frame(spark, rows, "catalog_name string, schema_name string")


def info_schema_tables(spark: SparkSession, store: SchemaStore, org: str) -> DataFrame:
    rows = [(CATALOG_NAME, org, m, "TABLE") for m in store.metrics(org)]
    return local_frame(
        spark, rows, "table_catalog string, table_schema string, table_name string, table_type string"
    )


def info_schema_columns(spark: SparkSession, store: SchemaStore, org: str) -> DataFrame:
    rows = []
    for m in store.metrics(org):
        schema = store.get_metric(org, m)
        pos = 1
        rows.append((CATALOG_NAME, org, m, schema.timestamp_field, pos, "BIGINT"))
        for f in schema.fields:
            pos += 1
            rows.append((CATALOG_NAME, org, m, f.cname, pos, spark_type(f.typ).simpleString().upper()))
    return local_frame(
        spark,
        rows,
        "table_catalog string, table_schema string, table_name string, "
        "column_name string, ordinal_position int, data_type string",
    )


def errors_stream_df(
    spark: SparkSession,
    source: SourceSpec,
    org: str,
    apikey_column: str = "apikey",
    columns: Optional[list[str]] = None,
) -> DataFrame:
    """The tenant's error-record table with the forced apikey filter
    (FIXTURES.md F5: JSON/parquet files dir-partitioned year/month/day)."""
    df = source.read(spark)
    df = df.filter(F.col(apikey_column) == org)
    cols = columns if columns is not None else [c for c in ERROR_COLUMNS if c in df.columns]
    return df.select(*cols)
