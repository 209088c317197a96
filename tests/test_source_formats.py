"""S9 parity: every SourceSpec format (parquet, JSON, CSV, ORC) feeds the
same recombinator plan — one metric table unioning four physically different
stores, each with its own time window."""

from __future__ import annotations

import pytest

from fineo_readerator_spark.recombinator import build_metric_df
from fineo_readerator_spark.schema_store import FieldDef, MetricSchema, SchemaStore
from fineo_readerator_spark.sources import SourceSpec, TimeRange

ORG = "org1"
METRIC = "metricA"


def _store():
    st = SchemaStore()
    st.register_metric(
        MetricSchema(
            org=ORG,
            metric=METRIC,
            fields=[FieldDef("val", "long")],
        )
    )
    return st


def _rows(ts0):
    return [
        {
            "companykey": ORG,
            "metrictype": METRIC,
            "timestamp": ts0 + i,
            "writetime": ts0 + i + 1,
            "val": ts0 + i,
        }
        for i in range(3)
    ]


def test_all_formats_union_into_one_metric(spark, tmp_path):
    schema = "companykey string, metrictype string, timestamp long, writetime long, val long"
    paths = {}
    for fmt, ts0 in [("parquet", 0), ("json", 100), ("csv", 200), ("orc", 300)]:
        df = spark.createDataFrame(_rows(ts0), schema=schema).repartition(1)
        p = str(tmp_path / fmt)
        writer = df.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true")
        getattr(writer, fmt)(p)
        paths[fmt] = p

    store = _store()
    sources = [
        SourceSpec(kind="historical", path=paths[fmt], fmt=fmt, time_range=TimeRange(ts0, ts0 + 100))
        for fmt, ts0 in [("parquet", 0), ("json", 100), ("csv", 200), ("orc", 300)]
    ]
    for s in sources:
        store.add_source(ORG, METRIC, s)

    out = build_metric_df(spark, store, ORG, METRIC)
    vals = [r.val for r in out.select("val").orderBy("timestamp").collect()]
    assert vals == [0, 1, 2, 100, 101, 102, 200, 201, 202, 300, 301, 302]


def test_unsupported_format_fails_when_the_spec_is_built():
    """A bad ``fmt`` is refused at construction and on load from JSON, not
    at the first read."""
    with pytest.raises(ValueError, match="avro"):
        SourceSpec(kind="historical", path="x", fmt="avro")
    with pytest.raises(ValueError, match="avro"):
        SourceSpec.from_dict({"kind": "historical", "path": "x", "fmt": "avro"})


def test_csv_orc_streaming_reads(spark, tmp_path):
    """read_stream over the non-default formats: same schema contract as
    batch (declared from one metadata peek), availableNow drain."""
    schema = "companykey string, metrictype string, timestamp long, writetime long, val long"
    for fmt in ["csv", "orc"]:
        df = spark.createDataFrame(_rows(0), schema=schema).repartition(1)
        p = str(tmp_path / f"s_{fmt}")
        writer = df.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true")
        getattr(writer, fmt)(p)

        src = SourceSpec(kind="historical", path=p, fmt=fmt)
        sdf = src.read_stream(spark)
        assert sdf.isStreaming
        q = (
            sdf.writeStream.format("memory")
            .queryName(f"fmt_{fmt}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got = sorted(r.val for r in spark.sql(f"SELECT val FROM fmt_{fmt}").collect())
        assert got == [0, 1, 2]


# --- versioned-layout discovery (SubTableScanBuilder.java:44-112) ----------


def _discovery_store():
    from fineo_readerator_spark.schema_store import (
        FieldDef,
        MetricSchema,
        SchemaStore,
    )

    st = SchemaStore()
    st.register_metric(
        MetricSchema(
            org="acme",
            metric="events",
            fields=[FieldDef("event_id", "long"), FieldDef("value", "double")],
        )
    )
    return st


def test_discovery_selects_latest_version_and_skips_ghost(spark, sf_dir):
    from fineo_readerator_spark.plans.metric_queries import ensure_fs_layout
    from fineo_readerator_spark.sources import discover_fs_sources

    base = ensure_fs_layout(spark, sf_dir)
    st = _discovery_store()
    added = discover_fs_sources(st, base)
    paths = [spec.path for _, _, spec in added]
    assert paths, "nothing discovered"
    assert all("/v1/" in p for p in paths), paths  # v0 (stale) never scanned
    assert not any("ghost" in p for p in paths), paths  # unregistered: hidden
    fmts = sorted(spec.fmt for _, _, spec in added)
    assert fmts == ["csv", "parquet"]  # both format dirs of the version


def test_discovery_explicit_version_pins_old_generation(spark, sf_dir):
    from fineo_readerator_spark.plans.metric_queries import ensure_fs_layout
    from fineo_readerator_spark.sources import discover_fs_sources

    base = ensure_fs_layout(spark, sf_dir)
    st = _discovery_store()
    added = discover_fs_sources(st, base, version="v0")
    assert added and all("/v0/" in spec.path for _, _, spec in added)


def test_discovered_metric_reads_full_corpus_once(spark, sf_dir):
    from fineo_readerator_spark.plans.metric_queries import m_discovered_version

    df = m_discovered_version(spark, sf_dir)
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert df.count() == total
    assert df.select("event_id").distinct().count() == total


def test_discovery_missing_explicit_version_raises(spark, sf_dir):
    import pytest

    from fineo_readerator_spark.plans.metric_queries import ensure_fs_layout
    from fineo_readerator_spark.sources import discover_fs_sources

    base = ensure_fs_layout(spark, sf_dir)
    with pytest.raises(ValueError, match="not found under"):
        discover_fs_sources(_discovery_store(), base, version="v999")


def test_discovery_walks_via_hadoop_fs_uri(spark, tmp_path):
    """An explicit file:// URI exercises the Hadoop FileSystem walk — the
    path shape object stores take (local pathlib would see no dir and
    silently discover nothing)."""
    from fineo_readerator_spark.sources import discover_fs_sources

    d = tmp_path / "layout" / "v1" / "parquet" / "acme" / "events"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"")
    added = discover_fs_sources(_discovery_store(), f"file://{tmp_path}/layout")
    assert [spec.fmt for _, _, spec in added] == ["parquet"]
    assert added[0][2].path.startswith("file://"), added[0][2].path


def test_discovery_version_order_is_natural(tmp_path):
    from fineo_readerator_spark.sources import discover_fs_sources

    base = tmp_path / "layout"
    for v in ("v1", "v9", "v10"):
        d = base / v / "parquet" / "acme" / "events"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"")
    st = _discovery_store()
    added = discover_fs_sources(st, str(base))
    assert added and all("/v10/" in spec.path for _, _, spec in added), [
        spec.path for _, _, spec in added
    ]
