"""Tenant/metric schema registry.

The reference declares a metric table's user-visible row type from an external
Avro-backed schema repository, not from the stored data
(`fineo-adapter-drill/.../schema/FineoTable.java:54-98`,
`FineoSchemaFactory.java:124-138`).  Each canonical field has a user type and a
set of stored aliases; rows may carry a value under any alias and must read
back under the canonical name
(`recombinator/physical/batch/impl/AliasFieldNameManager.java:27-48`).

Spark mapping: a plain JSON/py-dict registry resolved at DataFrame-build time.
Schema evolution (fields added after data was written → NULL; deleted metrics/
fields → hidden) falls out naturally because projection is always driven by
this store, never by parquet-inferred schema alone
(`TestClientLikeReads.java:193-260,324-434`).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import types as T

from fineo_readerator_spark.sources import SourceSpec, TimeRange

# Internal required fields present on every stored row
# (reference: fineo-adapter-drill/.../store/FineoCommon.java:17-20).
ORG_KEY = "companykey"
METRIC_KEY = "metrictype"
TIMESTAMP_KEY = "timestamp"
WRITE_TIME_KEY = "writetime"
INTERNAL_FIELDS = (ORG_KEY, METRIC_KEY, TIMESTAMP_KEY, WRITE_TIME_KEY)

# Unknown-field map column ("radio"; FineoCommon.java:29-33).
UNKNOWN_FIELDS_MAP = "_fm"

# Avro→SQL type map (FineoTable.java:74-93), re-expressed as Spark types.
_TYPE_MAP: dict[str, T.DataType] = {
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
}


def spark_type(name: str) -> T.DataType:
    try:
        return _TYPE_MAP[name]
    except KeyError:
        raise ValueError(f"unsupported field type {name!r}; supported: {sorted(_TYPE_MAP)}") from None


@dataclass
class FieldDef:
    """One user-visible canonical field.

    ``aliases`` are stored column names that feed this field, in priority
    order; the canonical name itself is always the first candidate
    (AliasFieldNameManager.java:27-48).
    """

    cname: str
    typ: str
    aliases: list[str] = field(default_factory=list)

    @property
    def candidates(self) -> list[str]:
        out = [self.cname]
        for a in self.aliases:
            if a not in out:
                out.append(a)
        return out

    def to_dict(self) -> dict:
        return {"cname": self.cname, "type": self.typ, "aliases": list(self.aliases)}

    @classmethod
    def from_dict(cls, d: dict) -> "FieldDef":
        return cls(cname=d["cname"], typ=d["type"], aliases=list(d.get("aliases", [])))


@dataclass
class MetricSchema:
    """Declared row type of one metric table: ``timestamp`` + user fields
    (+ optional ``_fm`` unknown-field map)  — FineoTable.java:54-98."""

    org: str
    metric: str
    fields: list[FieldDef] = field(default_factory=list)
    track_unknown: bool = False  # include the _fm map column ("radio" flag)
    timestamp_field: str = TIMESTAMP_KEY

    def field_map(self) -> dict[str, FieldDef]:
        return {f.cname: f for f in self.fields}

    def known_stored_names(self) -> set[str]:
        """Every stored column name accounted for by the schema (used to
        decide what is 'unknown' and belongs in ``_fm``)."""
        names: set[str] = set(INTERNAL_FIELDS)
        for f in self.fields:
            names.update(f.candidates)
        return names

    def user_columns(self) -> list[str]:
        cols = [self.timestamp_field] + [f.cname for f in self.fields]
        if self.track_unknown:
            cols.append(UNKNOWN_FIELDS_MAP)
        return cols

    def to_dict(self) -> dict:
        return {
            "org": self.org,
            "metric": self.metric,
            "fields": [f.to_dict() for f in self.fields],
            "track_unknown": self.track_unknown,
            "timestamp_field": self.timestamp_field,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "MetricSchema":
        return cls(
            org=d["org"],
            metric=d["metric"],
            fields=[FieldDef.from_dict(f) for f in d.get("fields", [])],
            track_unknown=d.get("track_unknown", False),
            timestamp_field=d.get("timestamp_field", TIMESTAMP_KEY),
        )


class SchemaStore:
    """Registry of orgs → metrics → (schema, sources).

    Reference equivalent: the DynamoDB-backed SchemaStore/StoreClerk pair plus
    the source-enumeration logic (`FineoSchemaFactory.java:86-138`,
    `SubTableScanBuilder.java:44-112`).  Here it is a JSON-serializable
    registry; a production deployment would back it with any small metadata
    service — it is resolve-time metadata, never shipped to executors.
    """

    def __init__(self) -> None:
        self._metrics: dict[tuple[str, str], MetricSchema] = {}
        self._sources: dict[tuple[str, str], list[SourceSpec]] = {}

    # -- registration -----------------------------------------------------
    def register_metric(self, schema: MetricSchema) -> None:
        self._metrics[(schema.org, schema.metric)] = schema

    def add_source(self, org: str, metric: str, source: SourceSpec) -> None:
        if (org, metric) not in self._metrics:
            raise KeyError(f"unknown metric {org}.{metric}")
        self._sources.setdefault((org, metric), []).append(source)

    def drop_metric(self, org: str, metric: str) -> None:
        """Metric deletion hides the table and its data
        (TestClientLikeReads.java:324-434)."""
        self._metrics.pop((org, metric), None)
        self._sources.pop((org, metric), None)

    def drop_field(self, org: str, metric: str, cname: str) -> None:
        """Field deletion hides the column (TestClientLikeReads.java:377-434)."""
        schema = self.get_metric(org, metric)
        schema.fields = [f for f in schema.fields if f.cname != cname]

    # -- lookup -----------------------------------------------------------
    def orgs(self) -> list[str]:
        return sorted({org for org, _ in self._metrics})

    def metrics(self, org: str) -> list[str]:
        return sorted(m for o, m in self._metrics if o == org)

    def get_metric(self, org: str, metric: str) -> MetricSchema:
        try:
            return self._metrics[(org, metric)]
        except KeyError:
            raise KeyError(f"unknown metric {org}.{metric}") from None

    def get_sources(self, org: str, metric: str) -> list[SourceSpec]:
        return list(self._sources.get((org, metric), []))

    # -- (de)serialization ------------------------------------------------
    def _entries(self) -> list[dict]:
        """One serialized {schema, sources} entry per metric, sorted by
        (org, metric) — the single format of the JSON and the tenant table."""
        return [
            {
                "schema": schema.to_dict(),
                "sources": [s.to_dict() for s in self._sources.get(key, [])],
            }
            for key, schema in sorted(self._metrics.items())
        ]

    def _load_entry(self, entry: dict) -> None:
        schema = MetricSchema.from_dict(entry["schema"])
        self.register_metric(schema)
        for s in entry.get("sources", []):
            self.add_source(schema.org, schema.metric, SourceSpec.from_dict(s))

    def to_json(self) -> str:
        return json.dumps({"metrics": self._entries()}, indent=2)

    # -- stored tenant table (OrgLoader parity) ----------------------------
    def write_tenant_table(self, spark, path: str) -> None:
        """Persist the registry as a STORED TABLE — one row per (org, metric)
        carrying the serialized schema+sources entry.  The reference loads
        its org list from hardcoded config *or a DynamoDB tenant table*
        (`fineo-adapter-drill/.../plugin/OrgLoader.java:30-40`,
        `FineoStoragePluginConfig` orgs); this is the stored-table half,
        re-expressed as a parquet registry any metadata store could serve.
        Registry-sized data (rows = #metrics), never the data path."""
        rows = [
            (e["schema"]["org"], e["schema"]["metric"], json.dumps(e)) for e in self._entries()
        ]
        spark.createDataFrame(
            rows, "org string, metric string, entry_json string"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    @classmethod
    def from_tenant_table(cls, spark, path: str) -> "SchemaStore":
        """Discover every tenant registered in a stored tenant table and
        build the registry from it — the Spark analog of
        `OrgLoader.load():30-40` enumerating orgs from the Dynamo tenant
        table at plugin refresh.  The collect is registry-sized (one row per
        metric) driver-side metadata, the same scale as the reference's org
        list."""
        store = cls()
        for r in spark.read.parquet(path).collect():
            store._load_entry(json.loads(r.entry_json))
        return store

    @classmethod
    def from_json(cls, text: str) -> "SchemaStore":
        store = cls()
        for entry in json.loads(text)["metrics"]:
            store._load_entry(entry)
        return store
