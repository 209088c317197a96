"""Timestamp-range extraction and source selection.

Reimplements the reference's resolve-time pruning stack on the driver:

- `TimestampExpressionBuilder.java:37-141` — walk the predicate as Spark's
  own SQL parser parses it and turn ``=,<,<=,>,>=,IN,BETWEEN`` conditions on
  ``timestamp`` under AND/OR into include-ranges; anything else (``NOT``,
  ``<>``, other columns) degrades to scan-all.
- `ConvertFineoMarkerIntoFilteredInputTables.java:183-326` (O3/O4) — per
  source, decide scan/skip by intersecting the query range with the source's
  declared window.
- anti-overlap (O5, ibid:121-181): when nearline and historical sources are
  both live, historical scans are additionally filtered to
  ``timestamp < min(nearline.start)`` — overlap resolution is range-based,
  nearline wins; NOT row-level dedup.

This module only decides which sources enter the union at all: metadata-only
work on the driver, O(#sources).  Skipping inside a source is the scan's job.
"""

from __future__ import annotations

from typing import Optional

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

from fineo_readerator_spark.session import get_spark
from fineo_readerator_spark.sources import HISTORICAL, NEARLINE, NEARLINE_ITEMS, SourceSpec, TimeRange


class RangeSet:
    """Disjunction of TimeRanges (possibly 'everything')."""

    def __init__(self, ranges: Optional[list[TimeRange]] = None, everything: bool = False):
        self.everything = everything
        self.ranges = ranges or []

    @classmethod
    def all(cls) -> "RangeSet":
        return cls(everything=True)

    @classmethod
    def of(cls, r: TimeRange) -> "RangeSet":
        return cls(ranges=[r])

    def intersect(self, other: "RangeSet") -> "RangeSet":
        if self.everything:
            return other
        if other.everything:
            return self
        out = []
        for a in self.ranges:
            for b in other.ranges:
                both = a.intersect(b)
                if both is not None:
                    out.append(both)
        return RangeSet(out)

    def union(self, other: "RangeSet") -> "RangeSet":
        if self.everything or other.everything:
            return RangeSet.all()
        return RangeSet(self.ranges + other.ranges)

    def overlaps(self, window: TimeRange) -> bool:
        if self.everything:
            return True
        return any(r.overlaps(window) for r in self.ranges)


# comparison -> (its mirror, for ``v <op> timestamp``; range of ``timestamp <op> v``)
_COMPARISONS = {
    "EqualTo": ("EqualTo", lambda v: TimeRange(v, v + 1)),
    "LessThan": ("GreaterThan", lambda v: TimeRange(None, v)),
    "LessThanOrEqual": ("GreaterThanOrEqual", lambda v: TimeRange(None, v + 1)),
    "GreaterThan": ("LessThan", lambda v: TimeRange(v + 1, None)),
    "GreaterThanOrEqual": ("LessThanOrEqual", lambda v: TimeRange(v, None)),
}
_INTEGRAL = ("byte", "short", "integer", "long")


def _bound(expr) -> Optional[int]:
    """A constant integral operand (``5``, ``1000*60``) folded to an int ≥ 0, else None.
    Negative bounds prune nothing: the raw-``ts`` twins are exact only for epochs ≥ 0."""
    try:
        if not expr.foldable() or expr.dataType().typeName() not in _INTEGRAL:
            return None
        v = expr.eval(None)
    except (Py4JError, PySparkException):  # e.g. ANSI overflow while folding
        return None
    return v if type(v) is int and v >= 0 else None


def ranges_from_expression(expr, ts_field: str = "timestamp") -> RangeSet:
    """The timestamp include-ranges of a *parsed* Catalyst ``Expression`` (a py4j
    handle, e.g. a ``Filter`` condition of ``parsePlan(sql)``), from ``And``,
    ``Or``, the five comparisons, ``IN`` and ``BETWEEN`` (the parsed function
    ``between``) of the bare timestamp column against constants; anything
    else is scan-all.  Parsed, not analyzed: analysis turns ``BETWEEN`` into
    a ``With`` tree and casts ``IN``'s column.  Each node call is a py4j round
    trip: 3 per ``And``/``Or``, 11-12 per timestamp comparison."""

    def is_ts(e) -> bool:
        return (
            e.nodeName() == "UnresolvedAttribute"
            and e.name().lower() == ts_field.lower()
            and e.nameParts().size() == 1
        )

    node = expr.nodeName()
    if node in ("And", "Or"):
        left = ranges_from_expression(expr.left(), ts_field)
        right = ranges_from_expression(expr.right(), ts_field)
        return left.intersect(right) if node == "And" else left.union(right)
    if node in _COMPARISONS:
        col, operand = expr.left(), expr.right()
        if not is_ts(col):  # ``v <op> timestamp``: mirror it
            col, operand, node = operand, col, _COMPARISONS[node][0]
            if not is_ts(col):
                return RangeSet.all()
        v = _bound(operand)
        return RangeSet.all() if v is None else RangeSet.of(_COMPARISONS[node][1](v))
    if node == "In" and is_ts(expr.value()):
        items = expr.list()
        vals = [_bound(items.apply(i)) for i in range(items.size())]
        if None not in vals:
            return RangeSet([TimeRange(v, v + 1) for v in vals])
    if node == "UnresolvedFunction" and expr.prettyName() == "between":
        args = expr.arguments()
        if args.size() == 3 and is_ts(args.apply(0)):
            lo, hi = _bound(args.apply(1)), _bound(args.apply(2))
            if lo is not None and hi is not None:
                return RangeSet.of(TimeRange(lo, hi + 1))
    return RangeSet.all()


def ranges_from_predicate(
    predicate: Optional[str], ts_field: str = "timestamp", spark: Optional[SparkSession] = None
) -> RangeSet:
    """The ranges of a SQL predicate parsed by ``spark`` (default: the active
    session, else ``get_spark()``); unparseable or absent → scan-all (O4)."""
    if not predicate or not predicate.strip():
        return RangeSet.all()
    spark = spark or SparkSession.getActiveSession() or get_spark()
    try:
        expr = spark._jsparkSession.sessionState().sqlParser().parseExpression(predicate)
    except (Py4JError, PySparkException):
        return RangeSet.all()
    return ranges_from_expression(expr, ts_field)


def select_sources(
    sources: list[SourceSpec],
    query_ranges: RangeSet,
) -> tuple[list[SourceSpec], Optional[int]]:
    """Pick the sources whose declared window intersects the query range, and
    compute the anti-overlap cutover (min nearline window start) applied to
    historical scans (O3/O4/O5).

    The cutover comes from ALL registered nearline sources, not just the ones
    the query touches: nearline owns every timestamp ≥ its earliest window
    start, so historical rows there are never visible — which also means a
    historical source's *effective* window is capped at the cutover for
    pruning purposes (`ConvertFineoMarkerIntoFilteredInputTables.java:121-181`).

    Returns (live_sources, cutover_millis_or_None).
    """
    nearline_starts = [
        s.time_range.start
        for s in sources
        if s.kind in (NEARLINE, NEARLINE_ITEMS) and s.time_range.start is not None
    ]
    cutover = min(nearline_starts) if nearline_starts else None

    def effective(s: SourceSpec) -> Optional[TimeRange]:
        if s.kind != HISTORICAL or cutover is None:
            return s.time_range
        return s.time_range.intersect(TimeRange(None, cutover))

    live = []
    for s in sources:
        window = effective(s)
        if window is not None and query_ranges.overlaps(window):
            live.append(s)
    return live, cutover
