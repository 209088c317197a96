"""Golden-row tests for the recombinator — pytest re-expression of the
reference's integration suites (TestFineoReadTable, TestClientLikeReads,
TestFineoRadio, TestFineoOverDynamo; see SURVEY.md §5)."""

from __future__ import annotations

import base64

import pytest

from fineo_readerator_spark.recombinator import build_metric_df
from fineo_readerator_spark.schema_store import FieldDef, MetricSchema, SchemaStore
from fineo_readerator_spark.sources import SourceSpec, TimeRange

ORG = "org1"
METRIC = "metricA"


def _write(spark, path, rows, schema=None):
    if schema is not None:
        df = spark.createDataFrame(rows, schema=schema)
    else:
        df = spark.createDataFrame(rows)
    df.repartition(1).write.mode("overwrite").parquet(path)
    return path


def _store(fields, track_unknown=False):
    st = SchemaStore()
    st.register_metric(MetricSchema(org=ORG, metric=METRIC, fields=fields, track_unknown=track_unknown))
    return st


def base_row(ts, **user):
    d = {"companykey": ORG, "metrictype": METRIC, "timestamp": ts, "writetime": ts + 1}
    d.update(user)
    return d


# --- TestFineoReadTable analogs ------------------------------------------


def test_select_star_types_and_sort(spark, tmp_path):
    """All seven user types read back with declared types, sorted by timestamp
    (TestFineoReadTable.testSupportedFieldTypes:122-135)."""
    raw = base64.b64encode(b"bytes!").decode()
    rows = [
        base_row(
            20,
            f_bool=True,
            f_bytes=raw,
            f_double=1.5,
            f_float=2.5,
            f_int=7,
            f_long=8,
            f_string="s1",
        ),
        base_row(
            10,
            f_bool=False,
            f_bytes=raw,
            f_double=2.5,
            f_float=3.5,
            f_int=9,
            f_long=10,
            f_string="s0",
        ),
    ]
    path = str(tmp_path / "hist")
    _write(
        spark,
        path,
        rows,
        schema=(
            "companykey string, metrictype string, timestamp long, writetime long,"
            "f_bool boolean, f_bytes string, f_double double, f_float double,"
            "f_int int, f_long long, f_string string"
        ),
    )
    fields = [
        FieldDef("f_bool", "boolean"),
        FieldDef("f_bytes", "binary"),
        FieldDef("f_double", "double"),
        FieldDef("f_float", "float"),
        FieldDef("f_int", "int"),
        FieldDef("f_long", "long"),
        FieldDef("f_string", "string"),
    ]
    st = _store(fields)
    st.add_source(ORG, METRIC, SourceSpec(kind="historical", path=path, base64_binary=True))
    df = build_metric_df(spark, st, ORG, METRIC)
    assert [f.name for f in df.schema.fields] == [
        "timestamp", "f_bool", "f_bytes", "f_double", "f_float", "f_int", "f_long", "f_string",
    ]
    got = [r.asDict() for r in df.collect()]
    assert [r["timestamp"] for r in got] == [10, 20]
    assert got[0]["f_string"] == "s0" and got[1]["f_string"] == "s1"
    assert bytes(got[0]["f_bytes"]) == b"bytes!"
    assert got[0]["f_float"] == pytest.approx(3.5)
    # internal fields are not user-visible (FineoTable.java:96-98)
    assert "companykey" not in df.columns and "writetime" not in df.columns


def test_alias_coalesce_and_priority(spark, tmp_path):
    """Values stored under an alias read back under the canonical name; when
    both canonical and alias are present the canonical wins
    (testStoringNonUserVisibleFieldName:72-95, testCastWithMultipleFieldAliases:145-163)."""
    rows = [
        base_row(1, other_field=1, af0=None, f_int=None),
        base_row(2, other_field=None, af0=2, f_int=None),
        base_row(3, other_field=5, af0=6, f_int=4),  # canonical wins
    ]
    path = str(tmp_path / "hist")
    _write(
        spark, path, rows,
        schema="companykey string, metrictype string, timestamp long, writetime long,"
        "other_field int, af0 int, f_int int",
    )
    st = _store([FieldDef("f_int", "int", aliases=["other_field", "af0"])])
    st.add_source(ORG, METRIC, SourceSpec(kind="historical", path=path))
    got = [r.asDict() for r in build_metric_df(spark, st, ORG, METRIC).collect()]
    assert [r["f_int"] for r in got] == [1, 2, 4]


def test_missing_field_reads_null_and_upcast(spark, tmp_path):
    """Registered-but-absent field reads NULL (testReadFieldNotSpecified:277-289);
    ints stored for a float field cast up (testSimpleCast:137-143)."""
    rows = [base_row(1, f_float=3)]
    path = str(tmp_path / "hist")
    _write(
        spark, path, rows,
        schema="companykey string, metrictype string, timestamp long, writetime long, f_float int",
    )
    st = _store([FieldDef("f_float", "float"), FieldDef("f_missing", "string")])
    st.add_source(ORG, METRIC, SourceSpec(kind="historical", path=path))
    got = [r.asDict() for r in build_metric_df(spark, st, ORG, METRIC).collect()]
    assert got[0]["f_missing"] is None
    assert got[0]["f_float"] == pytest.approx(3.0)


def test_tenant_and_metric_filter(spark, tmp_path):
    """Rows of other orgs/metrics never leak into a metric read
    (FineoRecombinatorRule org/metric filter :140-162)."""
    rows = [
        base_row(1, f_int=1),
        {"companykey": "other-org", "metrictype": METRIC, "timestamp": 2, "writetime": 3, "f_int": 2},
        {"companykey": ORG, "metrictype": "other-metric", "timestamp": 3, "writetime": 4, "f_int": 3},
    ]
    path = str(tmp_path / "hist")
    _write(
        spark, path, rows,
        schema="companykey string, metrictype string, timestamp long, writetime long, f_int int",
    )
    st = _store([FieldDef("f_int", "int")])
    st.add_source(ORG, METRIC, SourceSpec(kind="historical", path=path))
    got = [r.asDict() for r in build_metric_df(spark, st, ORG, METRIC).collect()]
    assert [r["f_int"] for r in got] == [1]


# --- TestClientLikeReads analogs -----------------------------------------


def _two_source_store(spark, tmp_path, hist_rows, near_rows, near_range, fields):
    hist = str(tmp_path / "hist")
    near = str(tmp_path / "near")
    schema = (
        "companykey string, metrictype string, timestamp long, writetime long, f_int int"
    )
    _write(spark, hist, hist_rows, schema=schema)
    _write(spark, near, near_rows, schema=schema)
    st = _store(fields)
    st.add_source(ORG, METRIC, SourceSpec(kind="historical", path=hist))
    st.add_source(ORG, METRIC, SourceSpec(kind="nearline", path=near, time_range=near_range))
    return st


def test_union_across_sources(spark, tmp_path):
    """Rows from both stores union into one sorted result
    (TestClientLikeReads.testReadAcrossFileAndDynamo:52-89)."""
    st = _two_source_store(
        spark, tmp_path,
        hist_rows=[base_row(10, f_int=1)],
        near_rows=[base_row(100, f_int=2)],
        near_range=TimeRange(50, None),
        fields=[FieldDef("f_int", "int")],
    )
    got = [r.asDict() for r in build_metric_df(spark, st, ORG, METRIC).collect()]
    assert [(r["timestamp"], r["f_int"]) for r in got] == [(10, 1), (100, 2)]


def test_overlap_nearline_wins(spark, tmp_path):
    """Same timestamp in both stores with different values → nearline value
    only; resolved by the range cutover, not row dedup
    (testReadAcrossOverlappingFileAndDynamo:91-113)."""
    st = _two_source_store(
        spark, tmp_path,
        hist_rows=[base_row(10, f_int=1), base_row(60, f_int=999)],  # 60 overlaps
        near_rows=[base_row(60, f_int=2)],
        near_range=TimeRange(50, None),
        fields=[FieldDef("f_int", "int")],
    )
    got = [r.asDict() for r in build_metric_df(spark, st, ORG, METRIC).collect()]
    assert [(r["timestamp"], r["f_int"]) for r in got] == [(10, 1), (60, 2)]


def test_source_pruning_by_time_predicate(spark, tmp_path):
    """A timestamp predicate skips sources whose window misses the range
    (testPruneFileDirectoryAndDynamo:115-164, TestFineoOverDynamo:121)."""
    st = _two_source_store(
        spark, tmp_path,
        hist_rows=[base_row(10, f_int=1)],
        near_rows=[base_row(100, f_int=2)],
        near_range=TimeRange(50, 200),
        fields=[FieldDef("f_int", "int")],
    )
    df, report = build_metric_df(
        spark, st, ORG, METRIC, predicate="timestamp >= 300", with_report=True
    )
    assert report.scanned == []  # nearline window [50,200) also misses
    assert df.count() == 0

    df2, report2 = build_metric_df(
        spark, st, ORG, METRIC, predicate="timestamp >= 60 AND timestamp < 150", with_report=True
    )
    assert len(report2.scanned) == 1 and report2.scanned[0].endswith("near")
    got = [r.asDict() for r in df2.collect()]
    assert [r["f_int"] for r in got] == [2]


def test_schema_evolution_late_field_and_deletion(spark, tmp_path):
    """Fields registered after data was written read NULL for old rows
    (TestClientLikeReads:193-260); deleting a field hides it (:377-434)."""
    rows = [base_row(1, f_int=1)]
    path = str(tmp_path / "hist")
    _write(
        spark, path, rows,
        schema="companykey string, metrictype string, timestamp long, writetime long, f_int int",
    )
    st = _store([FieldDef("f_int", "int"), FieldDef("f_new", "string")])
    st.add_source(ORG, METRIC, SourceSpec(kind="historical", path=path))
    got = [r.asDict() for r in build_metric_df(spark, st, ORG, METRIC).collect()]
    assert got[0]["f_new"] is None

    st.drop_field(ORG, METRIC, "f_int")
    df = build_metric_df(spark, st, ORG, METRIC)
    assert "f_int" not in df.columns

    st.drop_metric(ORG, METRIC)
    with pytest.raises(KeyError):
        build_metric_df(spark, st, ORG, METRIC)


# --- TestFineoRadio analogs (_fm unknown fields) --------------------------


def test_unknown_fields_land_in_fm(spark, tmp_path):
    """Stored columns not in the schema surface in _fm, stringified, only for
    rows where non-null (TestFineoRadio.java:51-203)."""
    rows = [
        base_row(1, f_int=1, mystery="x", extra_num=7),
        base_row(2, f_int=2, mystery=None, extra_num=8),
    ]
    path = str(tmp_path / "hist")
    _write(
        spark, path, rows,
        schema="companykey string, metrictype string, timestamp long, writetime long,"
        "f_int int, mystery string, extra_num int",
    )
    st = _store([FieldDef("f_int", "int")], track_unknown=True)
    st.add_source(ORG, METRIC, SourceSpec(kind="historical", path=path))
    got = [r.asDict() for r in build_metric_df(spark, st, ORG, METRIC).collect()]
    assert got[0]["_fm"] == {"mystery": "x", "extra_num": "7"}
    assert got[1]["_fm"] == {"extra_num": "8"}


def test_alias_merge_exhaustive_over_presence_and_nulls(spark):
    """The alias-merge contract (SURVEY §7.4 hard part #1,
    `RecombinatorRecordBatch.doWork:179-227`), checked EXHAUSTIVELY: for
    every subset of stored candidate columns present in the source and every
    per-row null pattern over them, the canonical field must read the first
    non-null candidate in priority order [canonical, alias1, alias2]; absent
    everywhere → NULL; unknown columns land in ``_fm`` iff non-null; no
    candidate ever leaks into ``_fm``."""
    import itertools

    from pyspark.sql import Row

    from fineo_readerator_spark.recombinator import project_canonical
    from fineo_readerator_spark.schema_store import FieldDef, MetricSchema
    from fineo_readerator_spark.sources import SourceSpec

    candidates = ["f", "a1", "a2"]
    schema = MetricSchema(
        org="o",
        metric="m",
        fields=[FieldDef("f", "int", aliases=["a1", "a2"])],
        track_unknown=True,
    )
    src = SourceSpec(kind="historical", path="unused")
    for present in itertools.chain.from_iterable(
        itertools.combinations(candidates, k) for k in range(len(candidates) + 1)
    ):
        rows = []
        # every null pattern over the present candidates; distinct values
        # per candidate so the winner is identifiable (f=100.., a1=200..,
        # a2=300..)
        for bits in itertools.product([False, True], repeat=len(present)):
            row = {"timestamp": len(rows), "extra": f"x{len(rows)}"}
            for j, (c, live) in enumerate(zip(present, bits)):
                row[c] = (candidates.index(c) + 1) * 100 + len(rows) if live else None
            rows.append(row)
        fields = "timestamp long, extra string, " + ", ".join(f"{c} int" for c in present)
        df = spark.createDataFrame([Row(**r) for r in rows], fields.rstrip(", "))
        out = {r["timestamp"]: r for r in project_canonical(df, schema, src).collect()}
        for i, row in enumerate(rows):
            got = out[i]
            expect = next(
                (row[c] for c in candidates if c in present and row[c] is not None), None
            )
            assert got["f"] == expect, (present, row, got)
            fm = got["_fm"] or {}
            assert fm.get("extra") == row["extra"]
            assert not set(fm) & set(candidates), (present, fm)


def test_alias_column_not_duplicated_in_fm(spark, tmp_path):
    """A stored alias feeding a known field must NOT also appear in _fm
    (TestFineoRadio.testKnownAliasKnownField:129)."""
    rows = [base_row(1, af0=5, unknown1="u")]
    path = str(tmp_path / "hist")
    _write(
        spark, path, rows,
        schema="companykey string, metrictype string, timestamp long, writetime long,"
        "af0 int, unknown1 string",
    )
    st = _store([FieldDef("f_int", "int", aliases=["af0"])], track_unknown=True)
    st.add_source(ORG, METRIC, SourceSpec(kind="historical", path=path))
    got = [r.asDict() for r in build_metric_df(spark, st, ORG, METRIC).collect()]
    assert got[0]["f_int"] == 5
    assert got[0]["_fm"] == {"unknown1": "u"}


def test_custom_timestamp_field_not_in_fm(spark, tmp_path):
    """A custom ``timestamp_field`` is a known stored column: it reads back
    as the timestamp and must NOT also appear in _fm."""
    path = _write(
        spark, str(tmp_path / "hist"),
        [{"companykey": ORG, "metrictype": METRIC, "ts_ms": 5, "f": "a", "extra": "x"}],
        schema="companykey string, metrictype string, ts_ms long, f string, extra string",
    )
    st = SchemaStore()
    st.register_metric(
        MetricSchema(
            org=ORG, metric=METRIC, fields=[FieldDef("f", "string")],
            track_unknown=True, timestamp_field="ts_ms",
        )
    )
    st.add_source(ORG, METRIC, SourceSpec(kind="historical", path=path))
    got = [r.asDict() for r in build_metric_df(spark, st, ORG, METRIC).collect()]
    assert got == [{"ts_ms": 5, "f": "a", "_fm": {"extra": "x"}}]
