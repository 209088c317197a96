"""Unit tests for timestamp-range extraction and source selection
(reference TimestampExpressionBuilder / ConvertFineoMarkerIntoFilteredInputTables)."""

from __future__ import annotations

from fineo_readerator_spark.pruning import RangeSet, ranges_from_predicate, select_sources
from fineo_readerator_spark.sources import SourceSpec, TimeRange


def r(pred):
    return ranges_from_predicate(pred)


def test_simple_ops():
    assert r("timestamp > 100").ranges == [TimeRange(101, None)]
    assert r("timestamp >= 100").ranges == [TimeRange(100, None)]
    assert r("timestamp < 100").ranges == [TimeRange(None, 100)]
    assert r("timestamp <= 100").ranges == [TimeRange(None, 101)]
    assert r("timestamp = 100").ranges == [TimeRange(100, 101)]


def test_reversed_operands():
    assert r("100 < timestamp").ranges == [TimeRange(101, None)]
    assert r("100 >= timestamp").ranges == [TimeRange(None, 101)]


def test_between():
    assert r("timestamp BETWEEN 10 AND 20").ranges == [TimeRange(10, 21)]


def test_and_intersects_or_unions():
    got = r("timestamp >= 10 AND timestamp < 20")
    assert got.ranges == [TimeRange(10, 20)]
    got = r("timestamp < 10 OR timestamp > 20")
    assert got.ranges == [TimeRange(None, 10), TimeRange(21, None)]


def test_other_columns_are_neutral():
    # non-ts conjunct doesn't narrow; non-ts disjunct widens to scan-all
    assert r("timestamp >= 10 AND f_int = 5").ranges == [TimeRange(10, None)]
    assert r("timestamp >= 10 OR f_int = 5").everything


def test_neq_and_unparseable_degrade_to_scan_all():
    assert r("timestamp <> 10").everything  # TimestampExpressionBuilder: <> → scan-all
    assert r("timestamp + 5 > 10").everything
    assert r(None).everything
    assert r("").everything


def test_parens():
    got = r("(timestamp >= 10 AND timestamp < 20) OR timestamp = 50")
    assert got.ranges == [TimeRange(10, 20), TimeRange(50, 51)]


def test_select_sources_and_cutover():
    hist = SourceSpec(kind="historical", path="h", time_range=TimeRange(None, None))
    near1 = SourceSpec(kind="nearline", path="n1", time_range=TimeRange(100, 200))
    near2 = SourceSpec(kind="nearline_items", path="n2", time_range=TimeRange(200, 300))
    live, cutover = select_sources([hist, near1, near2], RangeSet.all())
    assert [s.path for s in live] == ["h", "n1", "n2"]
    assert cutover == 100  # min nearline start (anti-overlap O5)

    # historical's effective window is capped at the cutover, so a recent-only
    # query skips it entirely
    live, cutover = select_sources([hist, near1, near2], r("timestamp >= 250"))
    assert [s.path for s in live] == ["n2"]
    assert cutover == 100

    live, cutover = select_sources([near1, near2], r("timestamp < 50"))
    assert live == [] and cutover == 100


def test_union_pruned_scans_one_source(spark, sf_dir):
    """Plan test for the m_union_pruned scenario (moved out of the query fn):
    a recent-only predicate over the split store must skip historical at
    resolve time — BuildReport.scanned is the O3/O5 contract."""
    from fineo_readerator_spark.plans.metric_queries import CUTOVER_MS, METRIC, ORG, events_store
    from fineo_readerator_spark.recombinator import build_metric_df

    st = events_store(sf_dir, split=True)
    pred = f"timestamp >= {CUTOVER_MS + 3600_000}"
    _, report = build_metric_df(spark, st, ORG, METRIC, predicate=pred, with_report=True)
    assert len(report.scanned) == 1, f"expected historical pruned, scanned={report.scanned}"
    assert report.skipped and "events.parquet" in report.skipped[0]


def test_spark_parse_shapes_prune_and_unsupported_degrade():
    """Spelling the hand-written parser missed now prunes, because the ranges
    come from Spark's own parse; every shape the walk cannot bound soundly
    (NOT, decimal/string/NULL constants, negative or overflowing bounds,
    qualified names, a syntax error) stays scan-all."""
    assert r("TIMESTAMP >= 5").ranges == [TimeRange(5, None)]
    assert r("timestamp IN (1, 7)").ranges == [TimeRange(1, 2), TimeRange(7, 8)]
    assert r("timestamp >= 1000*60").ranges == [TimeRange(60_000, None)]
    assert r("`timestamp` < 5").ranges == [TimeRange(None, 5)]
    for pred in [
        "NOT (timestamp < 5)",
        "timestamp >= 5.5",
        "timestamp >= -5",
        "timestamp = NULL",
        "timestamp >= '100'",
        "events.timestamp > 3",
        "timestamp >= 9223372036854775807 * 2",
        "timestamp > (",
    ]:
        assert r(pred).everything, pred
