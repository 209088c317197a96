"""Physical-plan assertions — the Spark analog of the reference's
PlanValidator (`PlanValidator.java:47-61`): instead of asserting Drill plan
JSON, assert what reaches the parquet scans (pushed filters, pruned columns)
and which join strategies Catalyst picks."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from fineo_readerator_spark.plans.metric_queries import (
    CUTOVER_MS,
    METRIC,
    ORG,
    T_HI,
    T_LO,
    events_store,
)
from fineo_readerator_spark.recombinator import build_metric_df
from fineo_readerator_spark.schema_store import FieldDef, MetricSchema, SchemaStore
from fineo_readerator_spark.sources import SourceSpec


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _pushed(plan: str) -> list[str]:
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def _ts_lit(ms: int) -> str:
    """PushedFilters renders timestamp bounds as ISO LocalDateTime (the
    fixtures' ts is timestamp[us]); whole-minute bounds print to minutes."""
    from datetime import datetime, timezone

    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M")


def test_raw_ts_bounds_reach_the_scan(spark, sf_dir):
    """Time-range predicates on the derived epoch-millis timestamp must appear
    as raw-column bounds in PushedFilters.  With timestamp[us] fixtures the
    bound is a timestamp literal (a scaled long here would be the
    seconds-vs-nanos bug VERDICT r3 #2 warned about).  On these NTZ fixtures
    the pushed bound skips no row group; which shapes do skip is
    ``test_raw_ts_bounds_skip_row_groups_by_shape``."""
    pred = f"timestamp >= {T_LO} AND timestamp < {T_HI}"
    df = build_metric_df(spark, events_store(sf_dir), ORG, METRIC, predicate=pred, sort=False)
    pushed = " | ".join(_pushed(_plan(df)))
    assert f"GreaterThanOrEqual(ts,{_ts_lit(T_LO)}" in pushed
    assert f"LessThan(ts,{_ts_lit(T_HI)}" in pushed


def _scan_rows(df) -> int:
    """Rows the executed plan's file scans output: with parquet's record-level
    filter off (the default) this counts every row of every row group read."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size()) if "Scan" in leaves.apply(i).nodeName()]
    return sum(s.metrics().apply("numOutputRows").value() for s in scans)


@pytest.mark.parametrize("raw_col, skips", [("ts_micros", True), ("ts_utc", True), ("ts_ntz", False)])
def test_raw_ts_bounds_skip_row_groups_by_shape(spark, tmp_path, raw_col, skips):
    """Which raw timestamp shapes let the pushed raw-``ts`` bound skip parquet
    row groups, over a file sorted by time in 10 row groups of 1,000 rows.

    An int64 epoch-micros column and a UTC-adjusted ``TIMESTAMP(MICROS)``
    column read fewer rows than the file holds.  A ``TIMESTAMP(MICROS)``
    column that is not UTC-adjusted (read as ``TIMESTAMP_NTZ``, the shape of
    every ``events`` fixture) keeps the bound in PushedFilters but reads
    every row; for it only the answer is checked."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, t0_ms = 10_000, 1_704_067_200_000
    micros = pa.array([(t0_ms + i * 60_000) * 1000 for i in range(n)], pa.int64())
    table = pa.table(
        {
            "ts_micros": micros,
            "ts_utc": micros.cast(pa.timestamp("us", tz="UTC")),
            "ts_ntz": micros.cast(pa.timestamp("us")),
            "value": pa.array([float(i) for i in range(n)]),
        }
    )
    path = str(tmp_path / "sorted.parquet")
    pq.write_table(table, path, row_group_size=1_000)
    st = SchemaStore()
    st.register_metric(MetricSchema(org=ORG, metric=METRIC, fields=[FieldDef("value", "double")]))
    derive = {"timestamp": f"epoch_ms({raw_col})", "companykey": f"'{ORG}'", "metrictype": f"'{METRIC}'"}
    src = SourceSpec(kind="historical", path=path, derive=derive, raw_ts_col=raw_col, raw_ts_per_milli=1000)
    st.add_source(ORG, METRIC, src)
    lo, hi = t0_ms + 4_500 * 60_000, t0_ms + 5_200 * 60_000  # rows 4500-5199
    pred = f"timestamp >= {lo} AND timestamp < {hi}"
    df = build_metric_df(spark, st, ORG, METRIC, predicate=pred, sort=False).select("value")
    assert sorted(r.value for r in df.collect()) == [float(i) for i in range(4_500, 5_200)]
    if skips:
        assert _scan_rows(df) < n


def test_cutover_pushes_to_historical_scan(spark, sf_dir):
    """The anti-overlap cutover must reach the historical parquet scan as a
    raw-ts bound (and the nearline side carries its window start)."""
    df = build_metric_df(spark, events_store(sf_dir, split=True), ORG, METRIC, sort=False)
    pushed = _pushed(_plan(df))
    assert any(f"LessThan(ts,{_ts_lit(CUTOVER_MS)}" in p for p in pushed)
    assert any(f"GreaterThanOrEqual(ts,{_ts_lit(CUTOVER_MS)}" in p for p in pushed)


def test_column_pruning_reaches_read_schema(spark, sf_dir):
    """A two-column projection must scan two-ish columns, not the table."""
    df = build_metric_df(spark, events_store(sf_dir), ORG, METRIC, sort=False).select(
        "timestamp", "value"
    )
    m = re.search(r"ReadSchema: struct<([^>]*)>", _plan(df))
    assert m, "no ReadSchema in plan"
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols <= {"ts", "value"}, f"over-read: {read_cols}"


def test_user_field_filter_pushes_into_scan(spark, sf_dir):
    df = build_metric_df(
        spark, events_store(sf_dir), ORG, METRIC, predicate="event_type = 'purchase'", sort=False
    )
    pushed = " | ".join(_pushed(_plan(df)))
    assert "EqualTo(event_type,purchase)" in pushed


def test_load_normalizes_nanos_long_time_columns(spark, tmp_path):
    """If a fixture generation ships time columns as epoch-nanos longs (the
    rounds-1-2 physical shape), ``load`` must normalize them to
    TIMESTAMP_NTZ so every comparison site keeps working — the round-3
    regression, inverted."""
    from pyspark.sql import types as T

    from fineo_readerator_spark.plans.registry import load

    ns = 1_705_000_000_123_456_789  # 2024-01-11T19:06:40.123456789Z
    spark.createDataFrame([(1, ns)], "event_id long, ts long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    df = load(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
    row = df.selectExpr("unix_millis(cast(ts as timestamp)) AS ms").first()
    assert row["ms"] == ns // 1_000_000


def test_union_items_nested_composition(spark, sf_dir):
    """The historical + nearline-items composition must, in ONE plan: scan
    both sources, push the cutover to the historical raw-ts column, push the
    tenant hash-key equality to the item snapshot's partition_key (pre-
    expander), and surface nested attrs as `_fm` JSON on both branches."""
    from fineo_readerator_spark.plans.metric_queries import m_union_items_nested

    import contextlib
    import io

    df = m_union_items_nested(spark, sf_dir)
    # formatted explain: the one-line toString truncates long scan nodes
    # BEFORE their PushedFilters section
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = " | ".join(_pushed(plan))
    # anti-overlap cutover reaches the historical parquet scan
    assert f"LessThan(ts,{_ts_lit(CUTOVER_MS)}" in pushed
    # tenant hash-key equality reaches the item snapshot scan pre-expander
    assert f"EqualTo(partition_key,{ORG}{METRIC})" in pushed
    # both physical sources are scanned in one plan
    assert "events.parquet" in plan and "events_items_nested" in plan
    # nearline window start applies to the item sort_key
    assert f"GreaterThanOrEqual(sort_key,{CUTOVER_MS})" in pushed


def test_epoch_ms_derive_identical_across_storage_dtypes(spark, tmp_path):
    """The driver's fixtures have shipped time columns as parquet
    TIMESTAMP(MICROS), TIMESTAMP(NANOS) (read as epoch-nanos longs under the
    legacy conf), and could ship plain int64 epoch nanos.  The epoch_ms()
    derive token must produce IDENTICAL epoch-millis output for all three
    physical shapes of the same instants, and the time bounds must reach
    each scan's PushedFilters in the shape the scan can use (timestamp
    literal vs scaled long) — so the next fixture type flip is caught here,
    not by the driver (VERDICT r4 #8)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fineo_readerator_spark.recombinator import build_metric_df
    from fineo_readerator_spark.schema_store import FieldDef, MetricSchema, SchemaStore
    from fineo_readerator_spark.sources import SourceSpec

    ms_vals = [1704672000000, 1705363199999, 1705363200123]  # straddle T_HI
    ids = list(range(len(ms_vals)))
    for d in ("nanos_long", "ts_us", "ts_ns"):
        (tmp_path / d).mkdir()

    shapes = {}
    # (a) plain int64 epoch-nanos column
    pq.write_table(
        pa.table({"event_id": ids, "ts": [m * 1_000_000 for m in ms_vals]}),
        str(tmp_path / "nanos_long" / "events.parquet"),
    )
    shapes["nanos_long"] = 1_000_000
    # (b) parquet TIMESTAMP(MICROS) -> Spark TIMESTAMP_NTZ
    pq.write_table(
        pa.table(
            {"event_id": ids, "ts": pa.array([m * 1000 for m in ms_vals], pa.timestamp("us"))}
        ),
        str(tmp_path / "ts_us" / "events.parquet"),
    )
    shapes["ts_us"] = 1_000_000
    # (c) parquet TIMESTAMP(NANOS) — reads as epoch-nanos long under the
    # nanosAsLong legacy conf (the rounds-1-2 generation)
    pq.write_table(
        pa.table(
            {"event_id": ids, "ts": pa.array([m * 1_000_000 for m in ms_vals], pa.timestamp("ns"))}
        ),
        str(tmp_path / "ts_ns" / "events.parquet"),
        version="2.6",
        coerce_timestamps=None,
    )
    shapes["ts_ns"] = 1_000_000

    pred = f"timestamp >= {T_LO} AND timestamp < {T_HI}"
    results, pushed_by_shape = {}, {}
    for shape, per_milli in shapes.items():
        st = SchemaStore()
        st.register_metric(
            MetricSchema(org=ORG, metric=METRIC, fields=[FieldDef("event_id", "long")])
        )
        st.add_source(
            ORG,
            METRIC,
            SourceSpec(
                kind="historical",
                path=str(tmp_path / shape / "events.parquet"),
                derive={
                    "timestamp": "epoch_ms(ts)",
                    "companykey": f"'{ORG}'",
                    "metrictype": f"'{METRIC}'",
                },
                raw_ts_col="ts",
                raw_ts_per_milli=per_milli,
            ),
        )
        df = build_metric_df(spark, st, ORG, METRIC, predicate=pred, sort=False)
        results[shape] = sorted(
            (r.event_id, r.timestamp) for r in df.select("event_id", "timestamp").collect()
        )
        pushed_by_shape[shape] = " | ".join(_pushed(_plan(df)))

    # identical derive output for identical instants, regardless of storage
    assert results["nanos_long"] == results["ts_us"] == results["ts_ns"]
    assert results["ts_us"] == [(0, ms_vals[0]), (1, ms_vals[1])]
    # bounds reach each scan in its native shape
    assert f"GreaterThanOrEqual(ts,{T_LO * 1_000_000})" in pushed_by_shape["nanos_long"]
    assert f"LessThan(ts,{T_HI * 1_000_000})" in pushed_by_shape["nanos_long"]
    assert f"GreaterThanOrEqual(ts,{_ts_lit(T_LO)}" in pushed_by_shape["ts_us"]
    assert f"GreaterThanOrEqual(ts,{T_LO * 1_000_000})" in pushed_by_shape["ts_ns"]


def test_errors_date_dirs_prune(spark, sf_dir):
    """The errors date predicate must turn into PartitionFilters (directory
    pruning): only the matching month/day dirs are listed and scanned."""
    import contextlib
    import io

    from fineo_readerator_spark.plans.catalog_queries import e_errors_date_pruned

    df = e_errors_date_pruned(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf, plan[:2000]
    # the equalities Catalyst prunes directories with (inputFiles() lists
    # pre-pruning, so the PartitionFilters section IS the assertion surface)
    assert "month" in pf.group(1) and "= 2" in pf.group(1), pf.group(1)
    assert "day" in pf.group(1) and "= 3" in pf.group(1), pf.group(1)
    # and the forced tenant filter still reaches the data scan
    assert "EqualTo(source,src7)" in plan


def test_small_dims_broadcast(spark, sf_dir):
    """Dimension joins must broadcast (no sort-merge shuffle for nation/region
    sized sides)."""
    from fineo_readerator_spark.plans.relational_queries import q5_local_supplier

    plan = _plan(q5_local_supplier(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_s_ann_filtered_prunes_cells_and_pushes_label(spark):
    """Filtered ANN: probe cells reach PartitionFilters (directory pruning)
    and the label equality reaches PushedFilters (row-group skipping)."""
    from fineo_readerator_spark.plans.llm_queries import s_ann_filtered

    df = s_ann_filtered(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell#" in plan or "cell IN" in plan, plan
    assert "PushedFilters: [IsNotNull(label), EqualTo(label,3)" in plan, plan


def test_q_salted_hot_agg_fans_out_over_salt(spark):
    """Two-phase salted aggregation: the partial aggregate groups on
    (key, __salt) — the hot key spreads before the exchange."""
    from fineo_readerator_spark.plans.scale_queries import q_salted_hot_agg

    df = q_salted_hot_agg(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, plan


def test_q_bloom_prejoin_filters_before_join(spark):
    """The bloom membership predicate sits on the orders side below the
    join, so non-matching rows die before any exchange."""
    from fineo_readerator_spark.plans.scale_queries import q_bloom_prejoin

    df = q_bloom_prejoin(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_at = min(
        (plan.find(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin") if plan.find(j) != -1),
        default=-1,
    )
    bloom_at = plan.find("shiftright(element_at(")
    assert join_at != -1 and bloom_at != -1, plan
    # executedPlan prints top-down: the join node appears before (above) the
    # scan-side filter that contains the bloom expression
    assert bloom_at > join_at, plan


def test_q9_q21_widest_joins_broadcast_dims_no_cartesian(spark, sf_dir):
    """The two widest join trees in the registry: every dimension side
    (part/supplier/nation) must arrive via BroadcastHashJoin and neither
    plan may contain a cartesian or nested-loop join — at 100 TB a
    mis-planned dim join here re-shuffles the whole fact table."""
    from fineo_readerator_spark.plans.tpch_extra import (
        q9_product_profit,
        q21_waiting_supplier,
    )

    p9 = _plan(q9_product_profit(spark, sf_dir))
    assert p9.count("BroadcastHashJoin") >= 3, p9  # part, supplier, nation
    assert "CartesianProduct" not in p9 and "BroadcastNestedLoopJoin" not in p9
    # the only non-broadcast join is fact-to-orders on the order key
    assert p9.count("SortMergeJoin") + p9.count("ShuffledHashJoin") <= 1, p9

    p21 = _plan(q21_waiting_supplier(spark, sf_dir))
    # nation->supplier and supplier-name->candidates both broadcast
    assert p21.count("BroadcastHashJoin") >= 2, p21
    assert "CartesianProduct" not in p21 and "BroadcastNestedLoopJoin" not in p21
    # the fact side shuffles once on the order key (the window), never more
    assert p21.count("SortMergeJoin") + p21.count("ShuffledHashJoin") <= 1, p21


def test_lateral_topn_decorrelates_to_window_topk(spark):
    """The correlated LATERAL (ORDER BY ... LIMIT inside) must decorrelate:
    the executed plan is WindowGroupLimit + a broadcast equi-join — never a
    per-outer-row nested loop or cartesian product."""
    from fineo_readerator_spark.plans.relational_queries import q_lateral_topn

    df = q_lateral_topn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    assert len(rows) > 0
    # per-nation cap holds
    from collections import Counter

    per = Counter(r.n_name for r in rows)
    assert max(per.values()) <= 2


def test_r10_ops_plan_no_cartesian(spark, sf_dir):
    """The r10 operators' physical plans: every join is an equi-join —
    no CartesianProduct / BroadcastNestedLoopJoin anywhere (the wedge
    join in neighbor_jaccard and the pair joins in edit_distance_verify
    are all key-equi by construction)."""
    from fineo_readerator_spark.plans.queries import QUERIES

    for name in (
        "q_changepoint",
        "d_edit_verify",
        "s_jaccard_neighbors",
        "t_zipf_fit",
        "t_code_detect",
        "d_cluster_purity",
        "mm_byte_entropy",
        "t_ngram_novelty",
        # p_epoch_plan is exempt: it crossJoins a broadcast 1-ROW
        # source-count frame (the cusum_shift metadata-attach pattern) —
        # a BroadcastNestedLoopJoin over one row, deliberate and bounded
    ):
        plan = _plan(QUERIES[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
