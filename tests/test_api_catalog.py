"""Tenant session, read-only guard, info schema, errors table
(reference: readerator server + fineo-reparser + ischema translator)."""

from __future__ import annotations

import json

import pytest

from fineo_readerator_spark.api import ReadOnlyViolation, TenantSession, assert_read_only
from fineo_readerator_spark.schema_store import FieldDef, MetricSchema, SchemaStore
from fineo_readerator_spark.sources import SourceSpec

ORG = "org1"


@pytest.fixture(scope="module")
def tenant(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("tenant")
    rows = [
        {"companykey": ORG, "metrictype": "metricA", "timestamp": i, "writetime": i, "f_int": i * 10}
        for i in range(5)
    ]
    spark.createDataFrame(
        rows, "companykey string, metrictype string, timestamp long, writetime long, f_int int"
    ).write.mode("overwrite").parquet(str(tmp / "hist"))

    errors = [
        {"apikey": ORG, "type": "error", "stage": "raw", "event": "{\"a\":1}",
         "message": "boom", "handled_timestamp": 100},
        {"apikey": "other", "type": "error", "stage": "raw", "event": "{}",
         "message": "not-yours", "handled_timestamp": 200},
    ]
    epath = tmp / "errors.json"
    epath.write_text("\n".join(json.dumps(e) for e in errors))

    st = SchemaStore()
    st.register_metric(MetricSchema(org=ORG, metric="metricA", fields=[FieldDef("f_int", "int")]))
    st.add_source(ORG, "metricA", SourceSpec(kind="historical", path=str(tmp / "hist")))
    return TenantSession(
        spark, st, ORG, errors_source=SourceSpec(kind="historical", path=str(epath), fmt="json")
    )


def test_sql_over_metric_view(tenant):
    got = tenant.sql("SELECT timestamp, f_int FROM metricA WHERE f_int >= 20 ORDER BY timestamp").collect()
    assert [(r.timestamp, r.f_int) for r in got] == [(2, 20), (3, 30), (4, 40)]


def test_read_only_guard(tenant):
    for bad in [
        "INSERT INTO metricA VALUES (1)",
        "DROP TABLE metricA",
        "CREATE TABLE t AS SELECT 1",
        "UPDATE metricA SET f_int = 0",
        "DELETE FROM metricA",
        "  /* sneaky */ MERGE INTO x USING y ON 1=1",
    ]:
        with pytest.raises(ReadOnlyViolation):
            tenant.sql(bad)
    # reads pass the guard
    assert_read_only("SELECT 1")
    assert_read_only("WITH t AS (SELECT 1) SELECT * FROM t")
    assert_read_only("-- comment\nVALUES (1)")
    # a leading parenthesis or no space before the next token is still a read
    for good in ["(SELECT 1)", "( SELECT 1)", "SELECT(1)", "select*from events", "(VALUES (1))"]:
        assert_read_only(good)
    assert tenant.sql("VALUES (1)").collect()[0][0] == 1
    assert tenant.sql("(SELECT 1)").collect()[0][0] == 1


def test_errors_forced_apikey_filter(tenant):
    """Tenant can never see another org's error rows — filter is baked into the
    view, not the query (FineoErrorWhereForce semantics)."""
    got = tenant.sql(
        "SELECT type, stage, event, message, handled_timestamp FROM errors_stream"
    ).collect()
    assert len(got) == 1 and got[0].message == "boom"
    # even an explicit attempt to widen cannot reach other tenants' rows
    got2 = tenant.sql("SELECT * FROM errors_stream WHERE message = 'not-yours'").collect()
    assert got2 == []


def test_info_schema_tenant_scoped(tenant):
    cats = tenant.sql("SELECT * FROM information_schema_catalogs").collect()
    assert [r.catalog_name for r in cats] == ["FINEO"]
    tables = tenant.sql("SELECT table_schema, table_name FROM information_schema_tables").collect()
    assert [(r.table_schema, r.table_name) for r in tables] == [(ORG, "metricA")]
    cols = tenant.sql(
        "SELECT column_name, data_type FROM information_schema_columns ORDER BY ordinal_position"
    ).collect()
    assert [(r.column_name, r.data_type) for r in cols] == [("timestamp", "BIGINT"), ("f_int", "INT")]


def test_errors_gzip_json_date_partitioned(spark, tmp_path):
    """S9/S10: gzipped JSON error files in Hive-style year/month/day dirs.
    The gzip codec is native to the JSON reader; date-dir predicates prune
    at the partition level — the Spark analog of the reference's _fd0 date
    dir pruning (`FileSystemTimestampHandler.java:83-102`)."""
    import gzip

    base = tmp_path / "errors"
    days = {15: "d15-boom", 16: "d16-boom"}
    for day, msg in days.items():
        d = base / "year=2024" / "month=1" / f"day={day}"
        d.mkdir(parents=True)
        rows = [
            {"apikey": ORG, "type": "error", "stage": "raw", "event": "{}",
             "message": msg, "handled_timestamp": day * 100},
            {"apikey": "other", "type": "error", "stage": "raw", "event": "{}",
             "message": "not-yours", "handled_timestamp": 1},
        ]
        with gzip.open(d / "part-0.json.gz", "wt") as f:
            f.write("\n".join(json.dumps(r) for r in rows))

    from fineo_readerator_spark.catalog import errors_stream_df

    src = SourceSpec(kind="historical", path=str(base), fmt="json")
    df = errors_stream_df(
        spark, src, ORG, columns=["type", "message", "handled_timestamp", "year", "month", "day"]
    )
    # forced tenant filter across both days
    assert sorted(r.message for r in df.collect()) == ["d15-boom", "d16-boom"]

    pruned = df.filter("year = 2024 AND month = 1 AND day = 15")
    assert [r.message for r in pruned.collect()] == ["d15-boom"]
    # date-dir pruning: the date predicates land in the scan's PartitionFilters
    # (inputFiles() reports the pre-pruning listing, so inspect the plan)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day#" in plan.split("PartitionFilters")[1][:200]


def test_tenant_table_round_trip_and_discovery(spark, tmp_path):
    """The registry persists as a stored tenant table and a fresh store
    discovers every tenant from it (`OrgLoader.java:30-40` stored-table
    path): schemas, aliases, sources and track_unknown all survive, and a
    tenant that exists only in the stored table resolves to working SQL."""
    rows = [
        {"companykey": "gamma", "metrictype": "m1", "timestamp": i, "writetime": i, "stored_f": i * 2}
        for i in range(4)
    ]
    spark.createDataFrame(
        rows, "companykey string, metrictype string, timestamp long, writetime long, stored_f int"
    ).write.mode("overwrite").parquet(str(tmp_path / "hist"))

    st = SchemaStore()
    st.register_metric(
        MetricSchema(
            org="gamma",
            metric="m1",
            fields=[FieldDef("f_canon", "long", aliases=["stored_f"])],
            track_unknown=True,
        )
    )
    st.add_source("gamma", "m1", SourceSpec(kind="historical", path=str(tmp_path / "hist")))
    st.write_tenant_table(spark, str(tmp_path / "registry"))

    loaded = SchemaStore.from_tenant_table(spark, str(tmp_path / "registry"))
    assert loaded.orgs() == ["gamma"] and loaded.metrics("gamma") == ["m1"]
    schema = loaded.get_metric("gamma", "m1")
    assert schema.track_unknown is True
    assert schema.fields[0].candidates == ["f_canon", "stored_f"]
    assert [s.kind for s in loaded.get_sources("gamma", "m1")] == ["historical"]

    # the discovered tenant answers SQL through the alias projection
    tenant = TenantSession(spark, loaded, "gamma")
    got = tenant.sql("SELECT timestamp, f_canon FROM m1 ORDER BY timestamp").collect()
    assert [(r.timestamp, r.f_canon) for r in got] == [(0, 0), (1, 2), (2, 4), (3, 6)]


def test_multi_tenant_isolation(spark, tmp_path):
    """Two tenants in one JVM via spark.newSession(): isolated view
    namespaces, each sees only its own metrics and info-schema rows (the
    reference runs one org per server instance; newSession is the in-JVM
    equivalent)."""
    rows = []
    for org, base in [("orgA", 0), ("orgB", 100)]:
        rows += [
            {"companykey": org, "metrictype": "m", "timestamp": base + i,
             "writetime": base + i, "v": base + i * 10}
            for i in range(3)
        ]
    path = str(tmp_path / "hist")
    spark.createDataFrame(
        rows, "companykey string, metrictype string, timestamp long, writetime long, v int"
    ).write.mode("overwrite").parquet(path)

    def store_for(org):
        st = SchemaStore()
        st.register_metric(MetricSchema(org=org, metric="m", fields=[FieldDef("v", "int")]))
        st.add_source(org, "m", SourceSpec(kind="historical", path=path))
        return st

    sess_a = TenantSession(spark.newSession(), store_for("orgA"), "orgA")
    sess_b = TenantSession(spark.newSession(), store_for("orgB"), "orgB")

    got_a = sess_a.sql("SELECT timestamp, v FROM m ORDER BY timestamp").collect()
    got_b = sess_b.sql("SELECT timestamp, v FROM m ORDER BY timestamp").collect()
    assert [(r.timestamp, r.v) for r in got_a] == [(0, 0), (1, 10), (2, 20)]
    assert [(r.timestamp, r.v) for r in got_b] == [(100, 100), (101, 110), (102, 120)]

    ta = sess_a.sql("SELECT table_schema FROM information_schema_tables").collect()
    tb = sess_b.sql("SELECT table_schema FROM information_schema_tables").collect()
    assert {r.table_schema for r in ta} == {"orgA"}
    assert {r.table_schema for r in tb} == {"orgB"}


def test_alter_session_set_allowlisted_option(spark, sf_dir):
    from fineo_readerator_spark.api import ReadOnlyViolation, TenantSession
    from fineo_readerator_spark.plans.metric_queries import ORG, events_store

    import pytest

    tenant = TenantSession(spark, events_store(sf_dir), ORG)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = tenant.sql("ALTER SESSION SET spark.sql.shuffle.partitions = 7")
        assert out.collect()  # SET returns the (key, value) row
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        # non-allowlisted conf keys are rejected, not applied
        with pytest.raises(ReadOnlyViolation, match="not tenant-settable"):
            tenant.sql("ALTER SYSTEM SET spark.sql.warehouse.dir = '/tmp/x'")
        # and writes are still writes
        with pytest.raises(ReadOnlyViolation):
            tenant.sql("INSERT INTO events VALUES (1)")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_alter_session_rejects_invalid_value(spark, sf_dir):
    import pytest

    from fineo_readerator_spark.api import ReadOnlyViolation, TenantSession
    from fineo_readerator_spark.plans.metric_queries import ORG, events_store

    tenant = TenantSession(spark, events_store(sf_dir), ORG)
    with pytest.raises(ReadOnlyViolation, match="invalid value"):
        tenant.sql("ALTER SESSION SET spark.sql.shuffle.partitions = ten")


def test_alter_session_enforces_range_and_canonical_form(spark, sf_dir):
    """Python-int-literal loopholes must not pass: 0 breaks planning for every
    tenant on the shared session, negatives are nonsense, and underscore
    forms ('8_0') would store the RAW string into SET."""
    import pytest

    from fineo_readerator_spark.api import ReadOnlyViolation, TenantSession
    from fineo_readerator_spark.plans.metric_queries import ORG, events_store

    tenant = TenantSession(spark, events_store(sf_dir), ORG)
    for bad in ("0", "-4", "8_0", "+8", " 8 ", "1e3", "999999999"):
        with pytest.raises(ReadOnlyViolation, match="invalid value"):
            tenant.sql(f"ALTER SESSION SET spark.sql.shuffle.partitions = '{bad}'")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        tenant.sql("ALTER SESSION SET spark.sql.shuffle.partitions = '007'")
        # the NORMALIZED value is applied, not the raw string
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        with pytest.raises(ReadOnlyViolation, match="invalid value"):
            tenant.sql("ALTER SESSION SET spark.sql.adaptive.enabled = yes")
        tenant.sql("ALTER SESSION SET spark.sql.adaptive.enabled = TRUE")
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_info_schema_and_empty_metric_views_are_jvm_local(tenant, spark):
    """The views built from driver-side rows plan as a LocalTableScan, never
    a pickled Python RDD scan (ExistingRDD), so reading them starts no
    Python worker tasks."""
    from fineo_readerator_spark.recombinator import build_metric_df

    st = SchemaStore()
    st.register_metric(
        MetricSchema(org=ORG, metric="nosrc", fields=[FieldDef("f_int", "int")], track_unknown=True)
    )
    empty = build_metric_df(spark, st, ORG, "nosrc")
    assert empty.collect() == [] and empty.columns == ["timestamp", "f_int", "_fm"]
    views = [
        tenant.sql(f"SELECT * FROM information_schema_{v}")
        for v in ("catalogs", "schemata", "tables", "columns")
    ]
    for df in views + [empty]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert dict(views[3].dtypes)["ordinal_position"] == "int"
