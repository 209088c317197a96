"""The recombinator: build one user-visible DataFrame for a metric table.

This is the Spark-first re-expression of the reference's core plan shape
(`FineoRecombinatorRule.java:49-177` + `RecombinatorRecordBatch.java:79-227`):

    per live source:
        scan → [expand KV items] → org/metric filter → [source window and
        anti-overlap cutover filters] → alias→canonical projection with
        CASTs (+ base64 decode) → [_fm unknown-field map]
    UNION ALL all sources → ORDER BY timestamp

The per-source pipeline (``_source_branch``, unioned by ``_union_branches``)
is the one build for batch and streams: ``build_metric_df`` runs it over
``SourceSpec.read`` and ``streaming.build_metric_stream`` over
``SourceSpec.read_stream``; only their endings differ.

Where the reference needed planner rules (Drill tables must pre-declare one
RelNode), we compose DataFrames programmatically at resolve time and let
Catalyst do the rest: the projection/filter push through the union
(PushProjectionThroughUnion / PushDownPredicates), parquet scans get predicate
pushdown + column pruning, and the final sort is a range-partitioned external
sort.  Nothing here collects to the driver; every step is a narrow
transformation except the final global sort (optional).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from functools import reduce
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fineo_readerator_spark.operators.expander import PARTITION_KEY, expand_items, split_compound_key
from fineo_readerator_spark.pruning import RangeSet, ranges_from_predicate, select_sources
from fineo_readerator_spark.schema_store import (
    INTERNAL_FIELDS,
    METRIC_KEY,
    ORG_KEY,
    UNKNOWN_FIELDS_MAP,
    MetricSchema,
    SchemaStore,
    spark_type,
)
from fineo_readerator_spark.session import local_frame
from fineo_readerator_spark.sources import HISTORICAL, NEARLINE_ITEMS, SourceSpec, TimeRange


@dataclass
class BuildReport:
    """Resolve-time decisions, for plan tests (the analog of the reference's
    PlanValidator physical-plan assertions, `PlanValidator.java:47-61`)."""

    considered: list[str] = dc_field(default_factory=list)
    scanned: list[str] = dc_field(default_factory=list)
    skipped: list[str] = dc_field(default_factory=list)
    cutover: Optional[int] = None


def _cast_candidate(df: DataFrame, name: str, target: T.DataType, base64_binary: bool) -> Column:
    """Cast one stored candidate column to the user type.

    Binary fields stored as base64 text decode via ``unbase64`` — the Spark
    built-in equivalent of the reference's codegen'd UDF
    (`udf/conv/Base64Decoder.java:13-40`, injected by
    `FineoRecombinatorRule.java:130-139`)."""
    col = F.col(name)
    stored = df.schema[name].dataType
    if isinstance(target, T.BinaryType) and isinstance(stored, T.StringType) and base64_binary:
        return F.unbase64(col)
    return col.cast(target)


def project_canonical(df: DataFrame, schema: MetricSchema, source: SourceSpec) -> DataFrame:
    """Alias→canonical projection with casts, plus the ``_fm`` map.

    - Each canonical field reads ``coalesce(candidates...)`` over whichever
      stored aliases exist in this source, candidates in priority order
      (canonical name first) — the merge semantics of
      `RecombinatorRecordBatch.doWork:179-227` / `AliasFieldNameManager`.
    - Fields with no stored candidate (schema evolved after write) read NULL
      (`TestClientLikeReads.java:193-260`).
    - Stored columns not accounted for by the schema land in
      ``_fm MAP<string,string>`` when the metric tracks unknown fields
      (`RecombinatorRecordBatch.java:117-158`, `TestFineoRadio`).  Values are
      stringified: Spark maps are monomorphic (documented deviation from
      Drill's union vectors).  Nested map/list/set attribute values — which
      the reference decodes into nested MAP/LIST vectors
      (`DynamoRecordReader.java:279-378`) — stringify as deterministic JSON
      (``to_json``), so nested structure survives the radio map losslessly.
    """
    cols: list[Column] = []
    ts = schema.timestamp_field
    ts_col = F.col(ts) if ts in df.columns else F.lit(None)
    cols.append(ts_col.cast(T.LongType()).alias(ts))

    for fdef in schema.fields:
        target = spark_type(fdef.typ)
        present = [c for c in fdef.candidates if c in df.columns]
        if not present:
            cols.append(F.lit(None).cast(target).alias(fdef.cname))
        elif len(present) == 1:
            cols.append(_cast_candidate(df, present[0], target, source.base64_binary).alias(fdef.cname))
        else:
            cols.append(
                F.coalesce(*[_cast_candidate(df, c, target, source.base64_binary) for c in present]).alias(
                    fdef.cname
                )
            )

    if schema.track_unknown:
        known = schema.known_stored_names()
        leftover = [c for c in df.columns if c not in known]
        if leftover:

            def as_radio_string(c: str) -> Column:
                dt = df.schema[c].dataType
                if isinstance(dt, (T.MapType, T.ArrayType, T.StructType)):
                    return F.to_json(F.col(c))
                return F.col(c).cast(T.StringType())

            entries = F.map_from_arrays(
                F.array(*[F.lit(c) for c in leftover]),
                F.array(*[as_radio_string(c) for c in leftover]),
            )
            fm = F.map_filter(entries, lambda _k, v: v.isNotNull())
        else:
            fm = F.map_from_arrays(
                F.array().cast(T.ArrayType(T.StringType())),
                F.array().cast(T.ArrayType(T.StringType())),
            )
        cols.append(fm.alias(UNKNOWN_FIELDS_MAP))

    return df.select(*cols)


def _org_metric_filter(df: DataFrame, source: SourceSpec, org: str, metric: str) -> DataFrame:
    """Rows for this tenant+metric only.

    dfs layout stores ``companykey``/``metrictype`` columns; dynamo layout
    stores the concatenated ``partition_key`` (`FineoRecombinatorRule.java:
    140-162`).  Compound keys were already split by ``split_compound_key``, so
    both reduce to column equality — which Catalyst pushes into the scan."""
    if ORG_KEY in df.columns:
        df = df.filter(F.col(ORG_KEY) == org)
    if METRIC_KEY in df.columns:
        df = df.filter(F.col(METRIC_KEY) == metric)
    return df


def _in_ranges(col: Column, ranges: list[TimeRange], lit: Callable[[int], Column] = F.lit) -> Column:
    """``col`` lies in any ``[start, end)`` of ``ranges``; ``lit`` turns an
    epoch-millis bound into a literal of the column's type."""

    def one(r: TimeRange) -> Column:
        cond = F.lit(True)
        if r.start is not None:
            cond = cond & (col >= lit(r.start))
        if r.end is not None:
            cond = cond & (col < lit(r.end))
        return cond

    return reduce(lambda a, b: a | b, [one(r) for r in ranges])


def _push_raw_ts_filters(
    df: DataFrame, src: SourceSpec, ranges: RangeSet, cutover: Optional[int]
) -> DataFrame:
    """Re-express millis time bounds on the source's RAW timestamp column.

    A predicate on the derived epoch-millis column evaluates after the scan;
    the equivalent bound on the raw column reaches the parquet reader as a
    pushed filter.  That skips row groups by min/max stats on integer and
    UTC-adjusted timestamp columns, not on ``TIMESTAMP_NTZ`` ones (every
    ``events`` fixture).  The bound literal adapts to the raw column's dtype:

    - integer raw units: ``raw >= start*N`` / ``raw < end*N`` (exact for
      integer division of non-negative epochs);
    - timestamp[us]/timestamp_ntz: ``raw >= timestamp_micros(start*1000)``
      cast to the column's exact type — constant-folded to a plain literal
      before pushdown.  Comparing a scaled ``cast(raw as long)`` here instead
      would silently compare epoch SECONDS against nanos-scaled bounds (wrong
      by 1e9).

    The derived-column filters stay too (they are the semantic truth); these
    raw twins exist only so the scan can skip."""
    if not src.raw_ts_col or src.raw_ts_col not in df.columns:
        return df
    dtype = df.schema[src.raw_ts_col].dataType
    is_time = isinstance(dtype, (T.TimestampType, T.TimestampNTZType))
    raw = F.col(src.raw_ts_col) if is_time else F.col(src.raw_ts_col).cast("long")
    n = src.raw_ts_per_milli

    def bound(ms: int) -> Column:
        if is_time:
            b = F.timestamp_micros(F.lit(ms * 1000))
            if isinstance(dtype, T.TimestampNTZType):
                # UTC session tz (ensure_io_confs) makes this cast exact
                b = b.cast("timestamp_ntz")
            return b
        return F.lit(ms * n)

    if not ranges.everything and ranges.ranges:
        df = df.filter(_in_ranges(raw, ranges.ranges, bound))
    if src.kind == HISTORICAL and cutover is not None:
        df = df.filter(raw < bound(cutover))
    if src.enforce_range and not src.time_range.is_unbounded:
        df = df.filter(_in_ranges(raw, [src.time_range], bound))
    return df


def empty_metric_df(spark: SparkSession, schema: MetricSchema) -> DataFrame:
    fields = [T.StructField(schema.timestamp_field, T.LongType())]
    for fdef in schema.fields:
        fields.append(T.StructField(fdef.cname, spark_type(fdef.typ)))
    if schema.track_unknown:
        fields.append(T.StructField(UNKNOWN_FIELDS_MAP, T.MapType(T.StringType(), T.StringType())))
    # JVM-local, so a metric with no live sources starts no Python workers
    return local_frame(spark, [], T.StructType(fields))


def _source_branch(
    df: DataFrame, src: SourceSpec, schema: MetricSchema, ranges: RangeSet, cutover: Optional[int]
) -> DataFrame:
    """One live source's canonical branch over its read frame ``df`` (batch
    or stream): [KV item expansion / compound-key split] → org/metric filter
    → source window → anti-overlap cutover on historical → raw-timestamp
    filter twins → alias→canonical projection.  Every step is narrow."""
    org, metric = schema.org, schema.metric
    if src.kind == NEARLINE_ITEMS:
        if src.compound_key:
            # tenant hash-key equality on the STORED column, before the
            # expander: a plain literal `=` reaches the parquet scan
            # (row-group stats / dictionary skipping), where the post-split
            # `substring(partition_key) = org` below never pushes.  This
            # is the reference's Dynamo hash-key condition
            # (`DynamoFineoCompoundKeyMapper.java:21-37`): at scale it is
            # the difference between reading one tenant and every tenant.
            df = df.filter(F.col(PARTITION_KEY) == F.lit(org + metric))
        df = expand_items(df)
        if src.compound_key:
            df = split_compound_key(df, org, schema.timestamp_field)
    df = _org_metric_filter(df, src, org, metric)
    ts_col = F.col(schema.timestamp_field).cast("long")
    if src.enforce_range and not src.time_range.is_unbounded:
        df = df.filter(_in_ranges(ts_col, [src.time_range]))
    if src.kind == HISTORICAL and cutover is not None:
        # anti-overlap: nearline wins the overlap window (O5)
        df = df.filter(ts_col < F.lit(cutover))
    df = _push_raw_ts_filters(df, src, ranges, cutover)
    return project_canonical(df, schema, src)


def _union_branches(
    spark: SparkSession, schema: MetricSchema, sources: list[SourceSpec], ranges: RangeSet,
    read: Callable[[SourceSpec, SparkSession], DataFrame],
) -> tuple[Optional[DataFrame], list[SourceSpec], Optional[int]]:
    """UNION ALL of the canonical branches of the sources ``ranges`` keeps
    live, each read by ``read`` (``SourceSpec.read`` or
    ``SourceSpec.read_stream``).  Returns the union (None when no source is
    live), the live sources and the anti-overlap cutover."""
    live, cutover = select_sources(sources, ranges)
    branches = [_source_branch(read(src, spark), src, schema, ranges, cutover) for src in live]
    if not branches:
        return None, live, cutover
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), branches), live, cutover


def build_metric_df(
    spark: SparkSession,
    store: SchemaStore,
    org: str,
    metric: str,
    predicate: Optional[str] = None,
    time_range: Optional[TimeRange] = None,
    sort: bool = True,
    with_report: bool = False,
):
    """Resolve one metric table into a DataFrame.

    ``predicate``: optional SQL-ish condition; timestamp bounds are extracted
    for source pruning (O6) and the *whole* predicate is applied as a filter
    (Catalyst then pushes it into every scan).  ``time_range`` is a
    programmatic alternative for the bounds.  ``sort=False`` skips the final
    global ``ORDER BY timestamp`` — the reference always sorts
    (`FineoRecombinatorRule.java:171-177`), but at 100 TB callers that feed a
    downstream aggregation should skip the range-partition sort.
    """
    schema = store.get_metric(org, metric)
    sources = store.get_sources(org, metric)

    ranges = ranges_from_predicate(predicate, schema.timestamp_field, spark)
    if time_range is not None:
        ranges = ranges.intersect(RangeSet.of(time_range))

    out, live, cutover = _union_branches(spark, schema, sources, ranges, SourceSpec.read)
    if out is None:
        out = empty_metric_df(spark, schema)

    if predicate:
        out = out.filter(predicate)
    # The ranges filter is (predicate-implied bounds ∩ time_range) — an
    # over-approximation that is always safe to apply alongside the predicate,
    # and REQUIRED when a time_range was passed (the predicate alone doesn't
    # carry it, and sources without raw_ts_col never re-expressed it).
    if not ranges.everything and ranges.ranges:
        out = out.filter(_in_ranges(F.col(schema.timestamp_field), ranges.ranges))
    if sort:
        out = out.orderBy(schema.timestamp_field)

    if with_report:
        report = BuildReport(
            considered=[s.path for s in sources],
            scanned=[s.path for s in live],
            skipped=[s.path for s in sources if s not in live],
            cutover=cutover,
        )
        return out, report
    return out
