"""Structured Streaming tests: metric stream with canonical projection,
watermarked windowed rollup, session windows, and the custom stateful
running-totals operator.

Strategy: file-source streams over tmp parquet dirs written in two "arrival"
batches, drained with trigger(availableNow=True) into the memory sink, and
compared against the equivalent batch computation over the same rows — the
streaming analog of the golden-row strategy (`BaseFineoTest.verifySelectStar`).
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from fineo_readerator_spark.schema_store import FieldDef, MetricSchema, SchemaStore
from fineo_readerator_spark.sources import SourceSpec, TimeRange
from fineo_readerator_spark.streaming import (
    build_metric_stream,
    run_available_now,
    sessionize,
    stateful_running_totals,
    windowed_rollup,
)

MIN = 60_000  # one minute in epoch millis
T0 = 1_600_000_000_000  # aligned-ish base timestamp


def _write_events(spark, path: str, rows: list[dict]) -> None:
    df = spark.createDataFrame(pd.DataFrame(rows))
    df.coalesce(1).write.mode("append").parquet(path)


def _event_rows(batch: int) -> list[dict]:
    """Two batches; batch 1 includes a row *late* w.r.t. batch 0's window."""
    if batch == 0:
        return [
            {"companykey": "org1", "metrictype": "m1", "timestamp": T0 + 5_000, "user": 1, "val": 10.0},
            {"companykey": "org1", "metrictype": "m1", "timestamp": T0 + 20_000, "user": 1, "val": 5.0},
            {"companykey": "org1", "metrictype": "m1", "timestamp": T0 + MIN + 1_000, "user": 2, "val": 7.0},
            # other-tenant row must be filtered out of the stream
            {"companykey": "org2", "metrictype": "m1", "timestamp": T0 + 6_000, "user": 9, "val": 99.0},
        ]
    return [
        {"companykey": "org1", "metrictype": "m1", "timestamp": T0 + 40_000, "user": 2, "val": 3.0},
        {"companykey": "org1", "metrictype": "m1", "timestamp": T0 + 2 * MIN + 1_000, "user": 1, "val": 1.0},
    ]


@pytest.fixture()
def stream_store(spark, tmp_path):
    src_dir = str(tmp_path / "events_src")
    _write_events(spark, src_dir, _event_rows(0))
    store = SchemaStore()
    store.register_metric(
        MetricSchema(
            org="org1",
            metric="m1",
            fields=[FieldDef("user", "long"), FieldDef("value", "double", aliases=["val"])],
        )
    )
    store.add_source(
        "org1", "m1", SourceSpec(kind="historical", path=src_dir, time_range=TimeRange())
    )
    return store, src_dir


def test_metric_stream_canonical_projection(spark, stream_store):
    store, src_dir = stream_store
    stream = build_metric_stream(spark, store, "org1", "m1")
    q = run_available_now(stream, "canon_stream")
    try:
        out = spark.sql("SELECT * FROM canon_stream").collect()
    finally:
        q.stop()
    # tenant filter applied, alias val -> value, event_time derived
    assert {r.user for r in out} == {1, 2}
    assert sorted(r.value for r in out) == [5.0, 7.0, 10.0]
    by_ts = {r.timestamp: r for r in out}
    assert by_ts[T0 + 5_000].event_time.timestamp() * 1000 == T0 + 5_000


def test_windowed_rollup_matches_batch(spark, stream_store, tmp_path):
    store, src_dir = stream_store
    _write_events(spark, src_dir, _event_rows(1))  # second arrival batch

    stream = build_metric_stream(spark, store, "org1", "m1")
    rolled = windowed_rollup(
        stream,
        "event_time",
        keys=["user"],
        aggs={"n": "count(*)", "total": "sum(value)"},
        window="1 minute",
        watermark="10 minutes",
    )
    # complete mode: emit every window incl. still-open ones (append would
    # hold back windows the watermark hasn't passed — correct for continuous
    # sinks, wrong for a drain-everything comparison)
    q = run_available_now(rolled, "rollup_stream", output_mode="complete")
    try:
        got = {
            (r.window_start, r.user): (r.n, r.total)
            for r in spark.sql("SELECT * FROM rollup_stream").collect()
        }
    finally:
        q.stop()

    batch = (
        spark.read.parquet(src_dir)
        .filter("companykey = 'org1'")
        .groupBy(
            (F.floor(F.col("timestamp") / MIN) * MIN).alias("window_start"), F.col("user")
        )
        .agg(F.count("*").alias("n"), F.sum("val").alias("total"))
    )
    exp = {(r.window_start, r.user): (r.n, r.total) for r in batch.collect()}
    assert got == exp


def test_sessionize_gap_semantics(spark, stream_store):
    store, _ = stream_store
    stream = build_metric_stream(spark, store, "org1", "m1")
    sessions = sessionize(stream, "event_time", keys=["user"], gap="30 seconds")
    q = run_available_now(sessions, "session_stream", output_mode="complete")
    try:
        rows = sorted(
            spark.sql("SELECT * FROM session_stream").collect(),
            key=lambda r: (r.user, r.session_start),
        )
    finally:
        q.stop()
    # user 1: events at +5s and +20s merge (gap 15s < 30s) into one session
    u1 = [r for r in rows if r.user == 1]
    assert len(u1) == 1 and u1[0].n_events == 2
    assert u1[0].session_start == T0 + 5_000
    assert u1[0].session_end == T0 + 20_000 + 30_000  # last event + gap
    u2 = [r for r in rows if r.user == 2]
    assert len(u2) == 1 and u2[0].n_events == 1


def test_stateful_running_totals_across_batches(spark, stream_store):
    store, src_dir = stream_store
    # key 3 has only NULL values: its vmax stays NULL
    null_row = {"companykey": "org1", "metrictype": "m1", "timestamp": T0 + 50_000, "user": 3, "val": None}
    _write_events(spark, src_dir, _event_rows(1) + [null_row])
    stream = build_metric_stream(spark, store, "org1", "m1")
    totals = stateful_running_totals(stream, "user", "value")
    q = run_available_now(totals, "totals_stream", output_mode="update")
    try:
        # last emitted row per key == final running totals
        pdf = spark.sql("SELECT * FROM totals_stream").toPandas()
        null_key = spark.sql("SELECT cnt, total, vmax FROM totals_stream WHERE key = 3").collect()
    finally:
        q.stop()
    final = {int(r.key): (int(r.cnt), float(r.total), float(r.vmax)) for r in pdf.groupby("key").tail(1).itertuples()}
    assert final[1] == (3, 16.0, 10.0)  # 10 + 5 + 1
    assert final[2] == (2, 10.0, 7.0)  # 7 + 3
    assert [tuple(r) for r in null_key] == [(1, 0.0, None)]


def test_stream_parquet_sink_roundtrip(spark, stream_store, tmp_path):
    from fineo_readerator_spark.streaming import write_stream_parquet

    store, _ = stream_store
    stream = build_metric_stream(spark, store, "org1", "m1")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = write_stream_parquet(stream.drop("event_time"), out_dir, ckpt, available_now=True)
    q.awaitTermination()
    back = spark.read.parquet(out_dir)
    assert back.count() == 3
    assert sorted(r.value for r in back.collect()) == [5.0, 7.0, 10.0]


def test_watermark_drops_late_rows_in_append(spark, tmp_path):
    """A row arriving later than the watermark allows must be DROPPED from an
    append-mode windowed aggregate (its window already finalized) — the
    late-data bound that keeps streaming state finite at scale."""
    src_dir = str(tmp_path / "late_src")
    # batch 0: one row far ahead — advances the event-time watermark
    _write_events(
        spark,
        src_dir,
        [{"companykey": "org1", "metrictype": "m1", "timestamp": T0 + 60 * MIN, "user": 1, "val": 1.0}],
    )
    store = SchemaStore()
    store.register_metric(
        MetricSchema(
            org="org1",
            metric="m1",
            fields=[FieldDef("user", "long"), FieldDef("value", "double", aliases=["val"])],
        )
    )
    store.add_source("org1", "m1", SourceSpec(kind="historical", path=src_dir, time_range=TimeRange()))

    out_dir, ckpt = str(tmp_path / "late_out"), str(tmp_path / "ckpt")

    def drain():
        stream = build_metric_stream(spark, store, "org1", "m1")
        rolled = windowed_rollup(
            stream, "event_time", keys=["user"], aggs={"n": "count(*)"},
            window="1 minute", watermark="10 minutes",
        )
        q = (
            rolled.writeStream.format("parquet").option("path", out_dir)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    # batch 1: one row 60 min BELOW the watermark (must be discarded) plus
    # one far ahead, so the watermark passes the first row's window end and
    # append mode finalizes it
    _write_events(
        spark,
        src_dir,
        [
            {"companykey": "org1", "metrictype": "m1", "timestamp": T0, "user": 2, "val": 9.0},
            {"companykey": "org1", "metrictype": "m1", "timestamp": T0 + 80 * MIN, "user": 3, "val": 2.0},
        ],
    )
    drain()
    rows = spark.read.parquet(out_dir).collect()
    # the late row's window never appears — it was dropped at the input, not
    # merely held back
    assert all(r.user != 2 for r in rows), rows
    # the finalized first window DID emit, proving append-mode emission works
    assert [r.n for r in rows if r.user == 1] == [1], rows


def test_stream_checkpoint_recovery_exactly_once(spark, stream_store, tmp_path):
    """Stop → new data arrives while the query is down → restart from the
    SAME checkpoint: only the unseen batch is processed, nothing replays.
    This is the exactly-once restart contract a production stream relies on
    (checkpointed file-source offsets + idempotent parquet sink)."""
    from fineo_readerator_spark.streaming import write_stream_parquet

    store, src_dir = stream_store
    stream = build_metric_stream(spark, store, "org1", "m1")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = write_stream_parquet(stream.drop("event_time"), out_dir, ckpt, available_now=True)
    q.awaitTermination()
    assert spark.read.parquet(out_dir).count() == 3  # batch-0 org1 rows

    # data lands while the query is DOWN
    _write_events(spark, src_dir, _event_rows(1))

    # restart with a fresh plan object but the same checkpoint
    stream2 = build_metric_stream(spark, store, "org1", "m1")
    q2 = write_stream_parquet(stream2.drop("event_time"), out_dir, ckpt, available_now=True)
    q2.awaitTermination()
    back = spark.read.parquet(out_dir)
    # 3 (batch 0, processed before the stop) + 2 (batch 1) — and NO replays
    assert back.count() == 5
    assert sorted(r.value for r in back.collect()) == [1.0, 3.0, 5.0, 7.0, 10.0]
    assert back.select("user", "timestamp", "value").distinct().count() == 5


def test_dedup_stream_drops_duplicate_keys(spark, stream_store, tmp_path):
    from fineo_readerator_spark.streaming import dedup_stream

    store, src_dir = stream_store
    # re-append batch 0: every event_id now arrives twice
    _write_events(spark, src_dir, _event_rows(0))
    stream = build_metric_stream(spark, store, "org1", "m1")
    deduped = dedup_stream(stream, ["event_id"]) if "event_id" in stream.columns else None
    if deduped is None:  # schema has no event_id; dedup on (user, timestamp)
        deduped = dedup_stream(stream, ["user", "timestamp"])
    q = run_available_now(deduped, "dedup_stream_t", output_mode="append")
    try:
        out = spark.sql("SELECT * FROM dedup_stream_t").collect()
    finally:
        q.stop()
    # 3 org1 rows duplicated twice -> 3 unique survive
    assert len(out) == 3
    assert sorted(r.value for r in out) == [5.0, 7.0, 10.0]


def _split_alias_store(spark, sf_dir, tmp_path):
    """Historical (value stored only under ``val_alias``) + nearline owning
    [CUTOVER_MS, ∞), both over the same events file: alias coalesce and the
    anti-overlap cutover."""
    from fineo_readerator_spark.plans.metric_queries import CUTOVER_MS, EVENT_DERIVE, METRIC, ORG

    fields = [
        FieldDef("event_id", "long"),
        FieldDef("user_id", "long"),
        FieldDef("event_type", "string"),
        FieldDef("value", "double", aliases=["val_alias"]),
    ]
    st = SchemaStore()
    st.register_metric(MetricSchema(org=ORG, metric=METRIC, fields=fields))
    path = f"{sf_dir}/events.parquet"
    hist = dict(EVENT_DERIVE)
    hist["val_alias"] = "value"
    hist["value"] = "cast(null as double)"
    st.add_source(ORG, METRIC, SourceSpec(kind="historical", path=path, derive=hist))
    st.add_source(
        ORG,
        METRIC,
        SourceSpec(
            kind="nearline",
            path=path,
            derive=dict(EVENT_DERIVE),
            time_range=TimeRange(CUTOVER_MS, None),
        ),
    )
    return st, ORG, METRIC


def _events_store(spark, sf_dir, tmp_path):
    """The one-source historical store every metric-stream registry query
    reads."""
    from fineo_readerator_spark.plans.metric_queries import METRIC, ORG, events_store

    return events_store(sf_dir), ORG, METRIC


def _items_store(spark, sf_dir, tmp_path):
    """A compound-key ``nearline_items`` store (one row per write id after
    expansion), with another tenant's item and an item outside the source
    window that the build must drop."""
    path = str(tmp_path / "items")
    rows = [
        ("org1metricA", 100, ["w1", "w2"], {"w1": 1, "w2": 2}, {"w1": "a", "w2": "b"}),
        ("org1metricA", 200, ["w3"], {"w3": 3}, {"w3": "c"}),
        ("org1metricA", 900, ["w4"], {"w4": 4}, {"w4": "d"}),
        ("org2metricA", 150, ["w5"], {"w5": 5}, {"w5": "e"}),
    ]
    schema = (
        "partition_key string, sort_key long, ids array<string>,"
        "f_int map<string,int>, f_string map<string,string>"
    )
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(path)
    st = SchemaStore()
    st.register_metric(
        MetricSchema(
            org="org1", metric="metricA",
            fields=[FieldDef("f_int", "int"), FieldDef("f_string", "string")],
        )
    )
    st.add_source(
        "org1", "metricA",
        SourceSpec(kind="nearline_items", path=path, compound_key=True, time_range=TimeRange(50, 500)),
    )
    return st, "org1", "metricA"


@pytest.mark.parametrize(
    "make_store", [_split_alias_store, _events_store, _items_store], ids=["split_alias", "events", "items"]
)
def test_build_metric_stream_matches_batch_build(spark, sf_dir, tmp_path, make_store):
    """Streaming/batch parity for the FULL recombinator build over every
    source shape: the stream drained available-now must equal
    build_metric_df over the same store row-for-row."""
    from fineo_readerator_spark.recombinator import build_metric_df

    st, org, metric = make_store(spark, sf_dir, tmp_path)
    batch = build_metric_df(spark, st, org, metric, sort=False)
    sink = "parity" + make_store.__name__
    q = run_available_now(build_metric_stream(spark, st, org, metric).select(*batch.columns), sink)
    try:
        got = spark.sql(f"SELECT * FROM {sink}").collect()
    finally:
        q.stop()
    exp = batch.collect()
    assert got and sorted(map(tuple, got), key=repr) == sorted(map(tuple, exp), key=repr)
    if make_store is _split_alias_store:
        # aliased values were recovered on the historical side of the cutover
        assert all(r.value is not None for r in got)
    if make_store is _items_store:
        assert sorted((r.timestamp, r.f_int, r.f_string) for r in got) == [
            (100, 1, "a"), (100, 2, "b"), (200, 3, "c"),
        ]


def test_build_metric_stream_no_sources_is_clear_error(spark):
    st = SchemaStore()
    st.register_metric(
        MetricSchema(org="o", metric="m", fields=[FieldDef("v", "int")])
    )
    with pytest.raises(ValueError, match="no live sources"):
        build_metric_stream(spark, st, "o", "m")


def test_maintain_store_grows_across_batches(spark, tmp_path):
    """The write half of streaming ingest dedup: batch 1 admits a novel doc
    into the store; batch 2's near-copy of it must be REJECTED even though
    neither doc was in the original corpus — the store grew between
    batches.  Replaying batch 2 against the same checkpoint must not
    change the store membership (at-least-once appends, probe-tolerant)."""
    from fineo_readerator_spark.llm_ops.dedup import (
        incremental_minhash_flags,
        write_signature_store,
    )
    from fineo_readerator_spark.streaming import maintain_signature_store

    base = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    write_signature_store(base, store)

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    novel = "completely original sentence about streaming stores and admission"
    spark.createDataFrame(
        [(10, novel)], "doc_id long, text string"
    ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
        .select("doc_id", "text")
    )

    def drain():
        q = maintain_signature_store(stream, store, checkpoint=ck)
        q.awaitTermination()
        q.stop()

    drain()  # batch 1: doc 10 is novel -> admitted
    ids = {
        r.id
        for r in spark.read.schema("id long, sig array<bigint>")
        .parquet(f"{store}/sigs")
        .collect()
    }
    assert ids == {1, 10}

    # batch 2: a near-copy of doc 10 plus another novel doc
    spark.createDataFrame(
        [(20, novel + " now"), (21, "unrelated brand new content appears right here")],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)
    drain()
    ids = {
        r.id
        for r in spark.read.schema("id long, sig array<bigint>")
        .parquet(f"{store}/sigs")
        .collect()
    }
    assert ids == {1, 10, 21}  # 20 rejected against the GROWN store

    # a fresh probe of the maintained store sees the admitted docs as bases
    probe = spark.createDataFrame([(99, novel)], "doc_id long, text string")
    out = incremental_minhash_flags(store, probe).collect()[0]
    assert out.is_dup and out.n_dup_bases >= 1


def test_apply_cdc_stream_multi_batch_generations(spark, tmp_path):
    """Two sequential change batches flip generations in order; the final
    snapshot equals sequential application and the pointer names the last
    committed generation (written AFTER the generation, so replays
    converge)."""
    from pyspark.sql import functions as F

    from fineo_readerator_spark.streaming import (
        apply_cdc_stream,
        init_cdc_snapshot,
        read_cdc_snapshot,
    )

    base = spark.createDataFrame([(1, "one"), (2, "two")], "doc_id long, text string")
    snap = str(tmp_path / "snap")
    init_cdc_snapshot(base, snap)

    feed = tmp_path / "feed"
    b1 = spark.createDataFrame(
        [(2, "delete", 1, "x"), (3, "insert", 1, "three")],
        "doc_id long, op string, seq int, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "update", 1, "three-v2"), (1, "delete", 1, "x")],
        "doc_id long, op string, seq int, text string",
    )
    b1.coalesce(1).write.parquet(str(feed / "f1"))
    b2.coalesce(1).write.parquet(str(feed / "f2"))
    changes = (
        spark.readStream.schema("doc_id long, op string, seq int, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "*"))
    )
    q = apply_cdc_stream(changes, snap, checkpoint=str(tmp_path / "ck"))
    q.awaitTermination()
    q.stop()

    out = {r["doc_id"]: r["text"] for r in read_cdc_snapshot(spark, snap).collect()}
    assert out == {3: "three-v2"}  # 2 deleted in b1, 1 in b2, 3 upserted twice
    from pathlib import Path

    gens = sorted(p.name for p in Path(snap).iterdir() if p.name.startswith("gen-"))
    assert "gen-base" in gens and len(gens) == 3  # base + one per batch
    cur = (Path(snap) / "_CURRENT").read_text().strip()
    assert cur in gens and cur.endswith("-1")  # run-namespaced batch-1 gen


def test_read_cdc_snapshot_requires_init(spark, tmp_path):
    import pytest

    from fineo_readerator_spark.streaming import read_cdc_snapshot

    with pytest.raises(ValueError, match="pointer"):
        read_cdc_snapshot(spark, str(tmp_path / "nosnap"))


def test_apply_cdc_stream_skips_already_applied_generation(spark, tmp_path):
    """Replay window #2 with a STABLE app_id: a batch whose generation is
    already current (crash after the pointer flip, before the checkpoint
    commit) must be SKIPPED — re-merging would read and overwrite the same
    directory."""
    from fineo_readerator_spark.streaming import (
        apply_cdc_stream,
        init_cdc_snapshot,
        read_cdc_snapshot,
    )
    from fineo_readerator_spark.streaming.streams import _read_pointer

    base = spark.createDataFrame([(1, "one")], "doc_id long, text string")
    snap = str(tmp_path / "snap")
    init_cdc_snapshot(base, snap)

    feed = tmp_path / "feed"
    spark.createDataFrame(
        [(2, "insert", 1, "two")], "doc_id long, op string, seq int, text string"
    ).coalesce(1).write.parquet(str(feed))
    changes = spark.readStream.schema(
        "doc_id long, op string, seq int, text string"
    ).parquet(str(feed))

    # first run applies batch 0 and flips the pointer to gen-app-0
    q = apply_cdc_stream(changes, snap, checkpoint=str(tmp_path / "ck1"), app_id="app")
    q.awaitTermination(); q.stop()
    assert _read_pointer(spark, f"{snap}/_CURRENT") == "gen-app-0"
    before = sorted(tuple(r) for r in read_cdc_snapshot(spark, snap).collect())

    # fresh checkpoint + SAME app_id = the same batch id replays with the
    # pointer ALREADY at its own generation (exactly the crash-window
    # state); it must no-op, not fail
    q2 = apply_cdc_stream(changes, snap, checkpoint=str(tmp_path / "ck2"), app_id="app")
    q2.awaitTermination(); q2.stop()
    after = sorted(tuple(r) for r in read_cdc_snapshot(spark, snap).collect())
    assert after == before == [(1, "one"), (2, "two")]
    assert _read_pointer(spark, f"{snap}/_CURRENT") == "gen-app-0"


def test_maintain_kmeans_model_running_means_and_replay_guard(spark, tmp_path):
    """Mini-batch k-means: two sequential batches fold into count-weighted
    running means; a replayed batch (fresh checkpoint, stable app_id, the
    pointer already at its own generation) must be skipped — re-applying
    would double-count."""
    from fineo_readerator_spark.streaming import (
        init_kmeans_model,
        maintain_kmeans_model,
        read_kmeans_model,
    )

    model = str(tmp_path / "model")
    init_kmeans_model(spark, model, [(0, [0.0, 0.0])])
    feed = tmp_path / "feed"
    spark.createDataFrame(
        [(1, [2.0, 2.0]), (2, [4.0, 4.0])], "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(str(feed / "f1"))
    spark.createDataFrame(
        [(3, [9.0, 9.0])], "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(str(feed / "f2"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "*"))
    )
    q = maintain_kmeans_model(stream, model, checkpoint=str(tmp_path / "ck"), app_id="a")
    q.awaitTermination(); q.stop()
    state = read_kmeans_model(spark, model)
    # batch1 mean (3,3) n=2; batch2 folds in: (2*3+9)/3 = 5
    assert state == [(0, 3, [5.0, 5.0])]

    # same app_id + fresh checkpoint replays batch ids 0/1 with the pointer
    # already at model-a-1.json: batch 1 must skip... but batch 0 re-applies
    # first and flips the pointer, so pin the exact crash-window state by
    # replaying ONLY the last file
    stream2 = spark.readStream.schema("vec_id long, embedding array<float>").parquet(
        str(feed / "f2")
    )
    q2 = maintain_kmeans_model(
        stream2, model, checkpoint=str(tmp_path / "ck2"), app_id="a"
    )
    # this run's batch 0 computes gen model-a-0.json != pointer, so it APPLIES
    # (running mean moves again): the guard is only for pointer == own gen
    q2.awaitTermination(); q2.stop()
    state2 = read_kmeans_model(spark, model)
    assert state2 == [(0, 4, [6.0, 6.0])]  # (3*5+9)/4

    # NOW the pointer is model-a-0.json: a third fresh-checkpoint run with
    # the same app_id replays batch 0 against its OWN generation — the
    # crash-window state the skip guard exists for: state must not move
    stream3 = spark.readStream.schema("vec_id long, embedding array<float>").parquet(
        str(feed / "f2")
    )
    q3 = maintain_kmeans_model(
        stream3, model, checkpoint=str(tmp_path / "ck3"), app_id="a"
    )
    q3.awaitTermination(); q3.stop()
    assert read_kmeans_model(spark, model) == [(0, 4, [6.0, 6.0])]


def test_apply_cdc_stream_fresh_checkpoint_new_data_not_lost(spark, tmp_path):
    """Restarting the feed with a FRESH checkpoint (new default app nonce)
    against an existing snapshot must APPLY its batch 0, not mistake it for
    a replay of the old run's batch 0 — and must not overwrite the old
    run's generation dirs (time travel preserved)."""
    from pathlib import Path

    from fineo_readerator_spark.streaming import (
        apply_cdc_stream,
        init_cdc_snapshot,
        read_cdc_snapshot,
    )

    base = spark.createDataFrame([(1, "one")], "doc_id long, text string")
    snap = str(tmp_path / "snap")
    init_cdc_snapshot(base, snap)
    schema = "doc_id long, op string, seq int, text string"

    feed1 = tmp_path / "feed1"
    spark.createDataFrame([(2, "insert", 1, "two")], schema).coalesce(1).write.parquet(
        str(feed1)
    )
    q = apply_cdc_stream(
        spark.readStream.schema(schema).parquet(str(feed1)),
        snap,
        checkpoint=str(tmp_path / "ck1"),
    )
    q.awaitTermination(); q.stop()
    gens_before = {p.name for p in Path(snap).iterdir() if p.name.startswith("gen-")}

    # genuinely NEW first batch under a fresh checkpoint: batch id 0 again
    feed2 = tmp_path / "feed2"
    spark.createDataFrame([(3, "insert", 1, "three")], schema).coalesce(1).write.parquet(
        str(feed2)
    )
    q2 = apply_cdc_stream(
        spark.readStream.schema(schema).parquet(str(feed2)),
        snap,
        checkpoint=str(tmp_path / "ck2"),
    )
    q2.awaitTermination(); q2.stop()

    out = sorted(tuple(r) for r in read_cdc_snapshot(spark, snap).collect())
    assert out == [(1, "one"), (2, "two"), (3, "three")]  # nothing lost
    gens_after = {p.name for p in Path(snap).iterdir() if p.name.startswith("gen-")}
    assert gens_before < gens_after  # old generations intact, new one added
