"""Cross-engine result-type canonicalization for the oracle harnesses.

Round 9 hardening: `q_skew_report` went driver-red twice while every local
replay matched, because the local comparators checked column NAMES and
stringified VALUES but never TYPES — the oracle's un-cast `sum()` emitted a
DuckDB HUGEINT (Arrow `decimal128(38,0)`) against Spark's BIGINT, a drift
that str()-compare cannot see but a driver that canonicalizes values
through Arrow/pandas can.  This module gives every harness (the pytest
parity gate and scripts/verify_oracles.py, including its --window replay)
one shared answer to "do these two result schemas mean the same thing?".

Kinds are deliberately STRICT: integer widths are distinguished, DECIMAL
keeps its scale (the scale decides how a value renders), HUGEINT never
matches anything (cast to BIGINT in the oracle), and float32/float64 are
different kinds.  The only sanctioned equivalences are the ones the two
engines cannot express identically: all timestamp flavors collapse to
``timestamp`` (Spark's session-tz TimestampType vs DuckDB's naive
TIMESTAMP render the same under the harness' UTC session) and VARCHAR ==
StringType == 'string'.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- Spark side

_SPARK_SIMPLE = {
    T.ByteType: "int8",
    T.ShortType: "int16",
    T.IntegerType: "int32",
    T.LongType: "int64",
    T.FloatType: "float32",
    T.DoubleType: "float64",
    T.StringType: "string",
    T.BinaryType: "binary",
    T.BooleanType: "bool",
    T.DateType: "date",
    T.TimestampType: "timestamp",
    T.TimestampNTZType: "timestamp",
    T.NullType: "null",
}


def spark_kind(dt: T.DataType) -> str:
    """Canonical kind of a Spark SQL type (recursive over containers)."""
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_kind(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{spark_kind(dt.keyType)},{spark_kind(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{spark_kind(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    for klass, kind in _SPARK_SIMPLE.items():
        if isinstance(dt, klass):
            return kind
    return f"other:{dt.simpleString()}"


# --------------------------------------------------------------- DuckDB side

_DUCK_SIMPLE = {
    "tinyint": "int8",
    "smallint": "int16",
    "integer": "int32",
    "bigint": "int64",
    # no equivalence: HUGEINT coerces to decimal128/float downstream of the
    # driver's canonicalization — oracles must CAST sums to BIGINT
    "hugeint": "hugeint",
    "utinyint": "uint8",
    "usmallint": "uint16",
    "uinteger": "uint32",
    "ubigint": "uint64",
    "float": "float32",
    "double": "float64",
    "varchar": "string",
    "blob": "binary",
    "boolean": "bool",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp with time zone": "timestamp",
    "timestamp_s": "timestamp",
    "timestamp_ms": "timestamp",
    "timestamp_ns": "timestamp",
    '"null"': "null",
    "sqlnull": "null",
}


def duck_kind(t) -> str:
    """Canonical kind of a DuckDBPyType (recursive over containers)."""
    tid = t.id
    if tid == "decimal":
        scale = dict(t.children)["scale"]
        return f"decimal({scale})"
    if tid == "list":
        return f"list<{duck_kind(dict(t.children)['child'])}>"
    if tid == "map":
        ch = dict(t.children)
        return f"map<{duck_kind(ch['key'])},{duck_kind(ch['value'])}>"
    if tid == "struct":
        inner = ",".join(f"{name}:{duck_kind(child)}" for name, child in t.children)
        return f"struct<{inner}>"
    return _DUCK_SIMPLE.get(tid, f"other:{tid}")


# ------------------------------------------------------------------ compare


def container_columns(spark_schema: T.StructType) -> list[tuple[str, str]]:
    """(column, kind) for every top-level column whose type is a container
    (Array/Map/Struct).  Round-10 gate: the driver canonicalizes results
    through pandas ``sort_values``, and Python lists are unhashable — ANY
    container-typed output column is an automatic driver red regardless of
    values (r9: `s_embed_int8`'s `qvec array<int>`), and the local
    str()-compare harness is blind to it.  Registry queries must emit
    scalar encodings (`concat_ws`/`to_json`) instead; the underlying
    operators can keep returning real containers for programmatic use."""
    return [
        (f.name, spark_kind(f.dataType))
        for f in spark_schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def kind_mismatches(spark_schema: T.StructType, duck_cols, duck_types):
    """(column, spark_kind, duck_kind) for every shared column whose
    canonical kinds differ.  Column-name agreement is the caller's check;
    columns missing on either side are ignored here."""
    skinds = {f.name: spark_kind(f.dataType) for f in spark_schema.fields}
    out = []
    for name, t in zip(duck_cols, duck_types):
        dk = duck_kind(t)
        sk = skinds.get(name)
        if sk is not None and sk != dk:
            out.append((name, sk, dk))
    return out
