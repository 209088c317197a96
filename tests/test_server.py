"""HTTP read-serving facade (reference: readerator Avatica server + REST
proxy — api-key tenant validation, rows-as-maps, read-only, row caps)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from fineo_readerator_spark.api import TenantSession
from fineo_readerator_spark.schema_store import FieldDef, MetricSchema, SchemaStore
from fineo_readerator_spark.server import ReadServer
from fineo_readerator_spark.sources import SourceSpec

ORG = "org1"
KEY = "sekrit"


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("srv")
    rows = [
        {"companykey": ORG, "metrictype": "metricA", "timestamp": i, "writetime": i, "f_int": i * 10}
        for i in range(5)
    ]
    spark.createDataFrame(
        rows, "companykey string, metrictype string, timestamp long, writetime long, f_int int"
    ).write.mode("overwrite").parquet(str(tmp / "hist"))
    st = SchemaStore()
    st.register_metric(MetricSchema(org=ORG, metric="metricA", fields=[FieldDef("f_int", "int")]))
    st.add_source(ORG, "metricA", SourceSpec(kind="historical", path=str(tmp / "hist")))
    srv = ReadServer(TenantSession(spark, st, ORG), api_key=KEY)
    port = srv.start()
    yield f"http://127.0.0.1:{port}"
    srv.stop()


def _small_server(spark, tmp_path, **kw) -> ReadServer:
    """A handle()-level server over one 6-row metric ``m`` (f_int 0..5)."""
    rows = [
        {"companykey": ORG, "metrictype": "m", "timestamp": i, "writetime": i, "f_int": i}
        for i in range(6)
    ]
    spark.createDataFrame(
        rows, "companykey string, metrictype string, timestamp long, writetime long, f_int int"
    ).write.mode("overwrite").parquet(str(tmp_path / "h"))
    st = SchemaStore()
    st.register_metric(MetricSchema(org=ORG, metric="m", fields=[FieldDef("f_int", "int")]))
    st.add_source(ORG, "m", SourceSpec(kind="historical", path=str(tmp_path / "h")))
    return ReadServer(TenantSession(spark, st, ORG), api_key=KEY, **kw)


def _post(url, body, key=KEY, path="/query"):
    req = urllib.request.Request(
        f"{url}{path}",
        data=json.dumps(body).encode(),
        headers={"content-type": "application/json", **({"x-api-key": key} if key else {})},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_query_rows_as_maps(server):
    status, out = _post(server, {"sql": "SELECT timestamp, f_int FROM metricA ORDER BY timestamp"})
    assert status == 200
    assert out["columns"] == ["timestamp", "f_int"]
    assert out["rows"][0] == {"timestamp": 0, "f_int": 0}
    assert len(out["rows"]) == 5


def test_values_smoke(server):
    # the reference's proxy smoke test: VALUES(1)
    status, out = _post(server, {"sql": "VALUES (1)"})
    assert status == 200 and len(out["rows"]) == 1


def test_bad_api_key_rejected(server):
    status, out = _post(server, {"sql": "SELECT 1"}, key="wrong")
    assert status == 403 and "validation" in out["error"]
    status, _ = _post(server, {"sql": "SELECT 1"}, key=None)
    assert status == 403


def test_write_rejected(server):
    status, out = _post(server, {"sql": "DROP TABLE metricA"})
    assert status == 400 and "read-only" in out["error"]


def test_max_rows_cap(server):
    status, out = _post(server, {"sql": "SELECT * FROM metricA", "max_rows": 2})
    assert status == 200 and len(out["rows"]) == 2


def test_analysis_error_is_client_error(server):
    status, out = _post(server, {"sql": "SELECT nope FROM metricA"})
    assert status == 400 and "error" in out


# -- Avatica-style statement/frame paging (FineoJdbcMeta.java:143-159) -----


def test_paging_through_frames(server):
    """A result larger than one frame pages via statement_id/offset and
    reassembles exactly; the final frame closes the statement."""
    sql = "SELECT timestamp, f_int FROM metricA ORDER BY timestamp"
    status, first = _post(server, {"sql": sql, "frame_size": 2})
    assert status == 200
    assert first["offset"] == 0 and first["done"] is False
    assert len(first["rows"]) == 2 and "statement_id" in first
    stmt = first["statement_id"]

    rows = list(first["rows"])
    done, offset = False, len(rows)
    while not done:
        status, frame = _post(
            server, {"statement_id": stmt, "offset": offset, "frame_size": 2}, path="/fetch"
        )
        assert status == 200 and frame["offset"] == offset
        rows += frame["rows"]
        offset += len(frame["rows"])
        done = frame["done"]
    assert [r["f_int"] for r in rows] == [0, 10, 20, 30, 40]

    # drained to done => statement auto-closed
    status, out = _post(server, {"statement_id": stmt, "offset": offset}, path="/fetch")
    assert status == 404


def test_paging_single_frame_has_no_statement(server):
    """A result that fits one frame is complete immediately — no cursor kept."""
    status, out = _post(server, {"sql": "SELECT * FROM metricA", "frame_size": 100})
    assert status == 200 and out["done"] is True and "statement_id" not in out


def test_statement_cap_evicts_oldest(spark, tmp_path):
    """Opening more cursors than max_statements closes the oldest, so
    abandoned clients cannot pin their rows forever (handle() used directly —
    the transport adds nothing here)."""
    srv = _small_server(spark, tmp_path, max_statements=2)

    opened = []
    for _ in range(3):
        status, out = srv.handle(KEY, {"sql": "SELECT f_int FROM m", "frame_size": 2})
        assert status == 200 and "statement_id" in out
        opened.append(out["statement_id"])
    # the first statement was evicted by the third
    status, out = srv.handle(KEY, {"statement_id": opened[0], "offset": 2}, "/fetch")
    assert status == 404
    # the newest two still page
    status, out = srv.handle(
        KEY, {"statement_id": opened[2], "offset": 2, "frame_size": 2}, "/fetch"
    )
    assert status == 200 and len(out["rows"]) == 2 and out["done"] is False


def test_bad_frame_size_is_client_error(server):
    """Non-numeric / boolean / fractional / zero / negative frame_size or
    max_rows must come back as a 400 JSON error, never a dropped connection
    (ADVICE r4) and never a silent int() coercion (true -> 1, 2.5 -> 2)."""
    for bad in ("nope", 0, -3, None, True, 2.5):
        status, out = _post(server, {"sql": "SELECT 1", "frame_size": bad})
        assert status == 400 and "frame_size" in out["error"], (bad, out)
    for bad in ("many", True):
        status, out = _post(server, {"sql": "SELECT 1", "max_rows": bad})
        assert status == 400 and "max_rows" in out["error"], (bad, out)
    status, out = _post(server, {"sql": "SELECT 1", "max_rows": "2", "frame_size": 2})
    assert status == 200 and len(out["rows"]) == 1, out
    # and on /fetch too, without killing the cursor's server
    status, first = _post(server, {"sql": "SELECT f_int FROM metricA", "frame_size": 1})
    stmt = first["statement_id"]
    status, out = _post(
        server, {"statement_id": stmt, "frame_size": 0}, path="/fetch"
    )
    assert status == 400 and "frame_size" in out["error"]
    _post(server, {"statement_id": stmt}, path="/close")


def test_fetch_refreshes_lru_recency(spark, tmp_path):
    """An actively-paging cursor survives statement churn: each successful
    fetch refreshes its recency so eviction is LRU, not insertion-ordered
    (ADVICE r4)."""
    srv = _small_server(spark, tmp_path, max_statements=2)

    status, a = srv.handle(KEY, {"sql": "SELECT f_int FROM m", "frame_size": 2})
    status, b = srv.handle(KEY, {"sql": "SELECT f_int FROM m", "frame_size": 2})
    # page statement A: it is now most-recently-used despite being oldest
    status, out = srv.handle(
        KEY, {"statement_id": a["statement_id"], "offset": 2, "frame_size": 2}, "/fetch"
    )
    assert status == 200
    # a third statement evicts B (LRU), not A
    status, c = srv.handle(KEY, {"sql": "SELECT f_int FROM m", "frame_size": 2})
    status, out = srv.handle(
        KEY, {"statement_id": a["statement_id"], "offset": 4, "frame_size": 2}, "/fetch"
    )
    assert status == 200
    status, out = srv.handle(
        KEY, {"statement_id": b["statement_id"], "offset": 2, "frame_size": 2}, "/fetch"
    )
    assert status == 404


def test_execution_failure_replies_json_error_and_leaves_no_statement(spark, tmp_path):
    """A statement executes in full at /query, so a Spark error raised while
    executing, even on rows past the first frame, comes back as a JSON error
    reply from /query, and no statement is left open to page."""
    srv = _small_server(spark, tmp_path)
    status, out = srv.handle(
        KEY,
        {
            "sql": "SELECT f_int, CASE WHEN f_int > 2 THEN raise_error('executor lost') END AS x "
            "FROM m ORDER BY f_int",
            "frame_size": 2,
        },
    )
    assert status == 400 and "executor lost" in out["error"]
    assert "statement_id" not in out and srv._statements == {}


def test_duplicate_output_columns_rejected(spark, tmp_path):
    """Rows are maps keyed by column name: two columns named ``id`` would
    silently lose one column's values, so the statement is refused."""
    srv = _small_server(spark, tmp_path)
    status, out = srv.handle(
        KEY, {"sql": "SELECT f_int AS id, timestamp AS id, f_int FROM m WHERE f_int = 1"}
    )
    assert status == 400 and "duplicate output column names ['id']" in out["error"]
    assert srv._statements == {}


def test_non_finite_doubles_are_strict_json(server):
    """NaN and the infinities have no JSON literal: they go out as strings,
    and the reply parses under a parser that refuses the non-standard
    ``NaN``/``Infinity`` tokens."""
    req = urllib.request.Request(
        f"{server}/query",
        data=json.dumps(
            {"sql": "SELECT double('NaN') AS n, double('Infinity') AS p, "
             "-double('Infinity') AS m, array(double('NaN'), 1.5D) AS a"}
        ).encode(),
        headers={"x-api-key": KEY},
    )

    def refuse(token):
        raise ValueError(f"non-standard JSON constant {token}")

    with urllib.request.urlopen(req) as resp:
        out = json.loads(resp.read(), parse_constant=refuse)
    assert out["rows"] == [{"n": "NaN", "p": "Infinity", "m": "-Infinity", "a": ["NaN", 1.5]}]


def _spark_counts(spark) -> tuple[int, int]:
    """(jobs, stages) the scheduler has started so far."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return dag.nextJobId(), dag.nextStageId()


def test_statement_runs_one_job_of_one_stage(spark, sf_dir):
    """A statement is one action over its capped plan, through handle() on
    a two-source (historical + nearline) metric: a point lookup takes its
    rows in one job (the first take scans a whole wave of partitions), and
    ORDER BY ... LIMIT k is one stage (collect merges the per-partition
    top-k on the driver; a streaming cursor shuffles them first)."""
    from fineo_readerator_spark.plans.metric_queries import ORG as EVENTS_ORG, events_store

    store = events_store(sf_dir, split=True)
    assert len(store.get_sources(EVENTS_ORG, "events")) == 2
    srv = ReadServer(TenantSession(spark, store, EVENTS_ORG), api_key=KEY)
    point = "SELECT timestamp, event_id, user_id, value FROM events WHERE event_id = 7"
    lastn = (
        "SELECT timestamp, event_id, value FROM events "
        "ORDER BY timestamp DESC, event_id DESC LIMIT 20"
    )
    for sql, n_rows in ((point, 1), (lastn, 20)):
        srv.handle(KEY, {"sql": sql})  # warm: first-use planning may run jobs
        jobs0, stages0 = _spark_counts(spark)
        status, out = srv.handle(KEY, {"sql": sql})
        jobs1, stages1 = _spark_counts(spark)
        assert status == 200 and len(out["rows"]) == n_rows, out
        assert (jobs1 - jobs0, stages1 - stages0) == (1, 1), sql


def test_paging_offset_is_forward_only(server):
    status, first = _post(server, {"sql": "SELECT f_int FROM metricA", "frame_size": 1})
    stmt = first["statement_id"]
    status, out = _post(server, {"statement_id": stmt, "offset": 0}, path="/fetch")
    assert status == 400 and "forward-only" in out["error"]
    # cursor survives a rejected rewind; close releases it
    status, out = _post(server, {"statement_id": stmt}, path="/close")
    assert status == 200 and out["closed"] is True
    status, _ = _post(server, {"statement_id": stmt, "offset": 1}, path="/fetch")
    assert status == 404


def test_concurrent_multi_tenant_servers(spark, tmp_path):
    """Two TenantSessions on spark.newSession() handles behind two
    ReadServers in ONE JVM, queried concurrently over real HTTP: tenant A
    never sees B's rows, ALTER SESSION confs stay session-scoped, and two
    paging cursors interleave without cross-talk (the reference's
    one-org-per-server deployment, FineoServer.java:49-70, collapsed into
    one JVM)."""
    from concurrent.futures import ThreadPoolExecutor

    rows = []
    for org, base in [("orgA", 0), ("orgB", 100_000)]:
        rows += [
            {"companykey": org, "metrictype": "m", "timestamp": base + i,
             "writetime": base + i, "v": base + i}
            for i in range(60)
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

    sess_a = spark.newSession()
    sess_b = spark.newSession()
    srv_a = ReadServer(TenantSession(sess_a, store_for("orgA"), "orgA"), api_key="keyA")
    srv_b = ReadServer(TenantSession(sess_b, store_for("orgB"), "orgB"), api_key="keyB")
    url_a = f"http://127.0.0.1:{srv_a.start()}"
    url_b = f"http://127.0.0.1:{srv_b.start()}"
    try:
        # -- concurrent queries: every result stays inside its own tenant --
        def hit(i):
            url, key, lo, hi = (
                (url_a, "keyA", 0, 60) if i % 2 == 0 else (url_b, "keyB", 100_000, 100_060)
            )
            status, out = _post(url, {"sql": "SELECT v FROM m"}, key=key)
            assert status == 200, out
            vals = [r["v"] for r in out["rows"]]
            assert len(vals) == 60 and all(lo <= v < hi for v in vals), (i, vals[:3])
            return True

        with ThreadPoolExecutor(max_workers=8) as ex:
            assert all(ex.map(hit, range(16)))

        # -- ALTER SESSION is session-scoped: A's change never leaks to B --
        before_root = spark.conf.get("spark.sql.shuffle.partitions")
        before_b = sess_b.conf.get("spark.sql.shuffle.partitions")
        status, _ = _post(
            url_a,
            {"sql": "ALTER SESSION SET spark.sql.shuffle.partitions = 7"},
            key="keyA",
        )
        assert status == 200
        assert sess_a.conf.get("spark.sql.shuffle.partitions") == "7"
        assert sess_b.conf.get("spark.sql.shuffle.partitions") == before_b
        assert spark.conf.get("spark.sql.shuffle.partitions") == before_root

        # -- interleaved paging: two live cursors, alternating fetches --
        def open_stmt(url, key):
            status, out = _post(
                url, {"sql": "SELECT v FROM m ORDER BY v", "frame_size": 10}, key=key
            )
            assert status == 200 and not out["done"] and "statement_id" in out
            return out["statement_id"], [r["v"] for r in out["rows"]]

        sid_a, got_a = open_stmt(url_a, "keyA")
        sid_b, got_b = open_stmt(url_b, "keyB")
        done_a = done_b = False
        while not (done_a and done_b):
            if not done_a:
                status, f = _post(
                    url_a, {"statement_id": sid_a, "offset": len(got_a)}, key="keyA", path="/fetch"
                )
                assert status == 200, f
                got_a += [r["v"] for r in f["rows"]]
                done_a = f["done"]
            if not done_b:
                status, f = _post(
                    url_b, {"statement_id": sid_b, "offset": len(got_b)}, key="keyB", path="/fetch"
                )
                assert status == 200, f
                got_b += [r["v"] for r in f["rows"]]
                done_b = f["done"]
        assert got_a == list(range(60))
        assert got_b == list(range(100_000, 100_060))

        # -- cross-tenant key never works --
        status, out = _post(url_a, {"sql": "SELECT v FROM m"}, key="keyB")
        assert status == 403
    finally:
        srv_a.stop()
        srv_b.stop()
        sess_a.conf.set("spark.sql.shuffle.partitions", before_root)
