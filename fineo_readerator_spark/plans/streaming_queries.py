"""Driver-contract queries for the Structured Streaming surface.

Each query runs a real streaming pipeline — ``readStream`` over the events
source with the canonical metric projection, a stateful operator, a
``trigger(availableNow=True)`` drain into the memory sink — and returns the
drained table as a DataFrame.  Because the drain processes exactly the static
input, the results are deterministic and (except for the custom stateful
operator's mechanics) SQL-expressible, so these get full DuckDB oracles: the
strongest possible evidence that the streaming operators compute the same
answers as their batch analogs.

Scale notes: the canonical projection is stateless (no shuffle added to the
stream); windowed/session aggregations shuffle on (key, window) with
watermark-bounded state; the stateful running-totals operator keeps 3 numbers
per key.  The memory-sink drain is test-harness plumbing — production sinks
are parquet/Kafka (``write_stream_parquet``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fineo_readerator_spark.plans.metric_queries import METRIC, ORG, events_store
from fineo_readerator_spark.plans.registry import QueryDef, load
from fineo_readerator_spark.streaming import (
    build_metric_stream,
    dedup_stream,
    interval_join_streams,
    run_available_now,
    sessionize,
    stateful_running_totals,
    windowed_rollup,
)

HOUR_MS = 3_600_000
DAY_MS = 86_400_000

# value -> exact integer cents: floor(value*100) evaluates the same double
# arithmetic in Spark and DuckDB, and integer sums are order-insensitive —
# the streaming analog of the decimal-sum convention in relational_queries
CENTS = "cast(floor(value * 100) as bigint)"


def _drain(df: DataFrame, name: str, mode: str) -> DataFrame:
    q = run_available_now(df, name, output_mode=mode)
    q.stop()
    return df.sparkSession.table(name)


def st_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window rollup per event_type over the metric
    stream, drained complete (all windows, including still-open ones)."""
    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    rolled = windowed_rollup(
        stream,
        "event_time",
        keys=["event_type"],
        aggs={"n": "count(*)", "total_cents": f"sum({CENTS})"},
        window="1 hour",
        watermark="1 hour",
    )
    return _drain(rolled, "st_windowed_rollup_sink", "complete")


ST_ROLLUP_ORACLE = f"""
SELECT (epoch_ms(ts) // {HOUR_MS}) * {HOUR_MS} AS window_start,
       (epoch_ms(ts) // {HOUR_MS}) * {HOUR_MS} + {HOUR_MS} AS window_end,
       event_type,
       count(*) AS n,
       CAST(sum({CENTS}) AS BIGINT) AS total_cents
FROM events
GROUP BY 1, 2, 3
"""


def st_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user (built-in ``session_window`` state
    merging): a session closes one day after its last event."""
    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    sessions = sessionize(
        stream,
        "event_time",
        keys=["user_id"],
        gap="1 day",
        watermark="1 day",
        aggs={"n_events": "count(*)"},
    )
    return _drain(sessions, "st_sessionize_sink", "complete")


# gaps-and-islands: a new session starts when the previous event of the same
# user is more than one day older; session end = last event + gap
ST_SESSION_ORACLE = f"""
WITH e AS (SELECT user_id, epoch_ms(ts) AS t FROM events),
marked AS (
  SELECT user_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > {DAY_MS}
              OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM e
),
islands AS (
  SELECT user_id, t,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT min(t) AS session_start, max(t) + {DAY_MS} AS session_end,
       user_id, count(*) AS n_events
FROM islands GROUP BY user_id, sid
"""


def st_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-user running
    count/sum/max accumulated across micro-batches.  The drain's last emission
    per key (the one with the highest running count) is the final total."""
    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC).withColumn(
        "value_cents", F.expr(CENTS).cast("double")
    )
    totals = stateful_running_totals(stream, "user_id", "value_cents")
    drained = _drain(totals, "st_running_totals_sink", "update")
    return (
        drained.groupBy(F.col("key").alias("user_id"))
        .agg(
            F.max("cnt").alias("n_events"),
            F.max_by("total", "cnt").cast("long").alias("total_cents"),
            F.max_by("vmax", "cnt").cast("long").alias("max_cents"),
        )
    )


ST_TOTALS_ORACLE = f"""
SELECT user_id, count(*) AS n_events,
       CAST(coalesce(sum({CENTS}), 0) AS BIGINT) AS total_cents,
       CAST(max({CENTS}) AS BIGINT) AS max_cents
FROM events GROUP BY user_id
"""


def st_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup within the watermark: first arrival per
    (user_id, event_type) wins; the surviving key set is deterministic."""
    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    deduped = dedup_stream(stream, ["user_id", "event_type"], watermark="1 day")
    return _drain(deduped, "st_dedup_sink", "append").select("user_id", "event_type")


ST_DEDUP_ORACLE = "SELECT DISTINCT user_id, event_type FROM events"


def st_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the metric stream joins a broadcast customer
    dimension (stateless — no streaming state, the dim is re-read per
    micro-batch), then rolls up value cents per (day window, market segment).
    The canonical production shape: enrich first (narrow), aggregate second
    (one shuffle on window+segment)."""
    from fineo_readerator_spark.plans.registry import load

    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    dim = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    enriched = stream.join(F.broadcast(dim), "user_id")
    rolled = windowed_rollup(
        enriched,
        "event_time",
        keys=["c_mktsegment"],
        aggs={"n": "count(*)", "total_cents": f"sum({CENTS})"},
        window="1 day",
        watermark="1 day",
    )
    return _drain(rolled, "st_stream_static_join_sink", "complete")


ST_SS_JOIN_ORACLE = f"""
SELECT (epoch_ms(ts) // {DAY_MS}) * {DAY_MS} AS window_start,
       (epoch_ms(ts) // {DAY_MS}) * {DAY_MS} + {DAY_MS} AS window_end,
       c_mktsegment,
       count(*) AS n,
       CAST(sum({CENTS}) AS BIGINT) AS total_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2, 3
"""


def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (funnel attribution): each click joins the
    same user's purchases within the following hour.  Watermarks on both
    sides + the two-sided time bound let Spark evict join state — the shape
    that runs forever on unbounded inputs."""
    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("event_time").alias("click_time"),
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("event_time").alias("purchase_time"),
    )
    joined = interval_join_streams(
        clicks, purchases, "user_id", "click_time", "purchase_time",
        upper="1 hour", watermark="1 hour",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_millis("click_time").alias("click_ms"),
        F.unix_millis("purchase_time").alias("purchase_ms"),
    )
    return _drain(joined, "st_ss_join_sink", "append")


ST_INTERVAL_JOIN_ORACLE = f"""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       epoch_ms(c.ts) AS click_ms, epoch_ms(p.ts) AS purchase_ms
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND epoch_ms(p.ts) >= epoch_ms(c.ts)
 AND epoch_ms(p.ts) <= epoch_ms(c.ts) + {HOUR_MS}
"""


def st_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user estimate per event_type via the portable
    HLL: the stream maintains the (key, bucket) → max(rho) register rows
    incrementally — register max is associative/commutative, so the
    streaming aggregation state IS the mergeable sketch (≤128 ints per
    key, bounded regardless of stream length).  Estimates finalize on
    read from the drained register table, the stored-registers /
    estimate-on-read split a production sketch store uses.  Streaming
    can't chain two aggregations in one query; this composition is the
    idiomatic workaround, and the DuckDB oracle replays both halves."""
    from fineo_readerator_spark.llm_ops.sketches import hll_finalize, hll_registers

    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    regs = hll_registers(
        stream, F.col("user_id").cast("string"), group_cols=("event_type",)
    )
    drained = _drain(regs, "st_hll_sink", "complete")
    return hll_finalize(drained, ("event_type",))


def _st_hll_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sketches import hll_grouped_oracle_sql

    return hll_grouped_oracle_sql(
        "SELECT event_type, CAST(user_id AS VARCHAR) AS k FROM events",
        "event_type",
        "k",
    )


def st_hll_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rolling 7-day distinct users: the stream maintains
    per-day HLL registers incrementally (register max = the streaming
    aggregation state, ≤128 ints per day), and the ROLLING merge +
    estimate runs at read time on the drained register table
    (llm_ops.sketches.hll_rolling_finalize) — sketch mergeability end to
    end: no raw key is ever re-scanned to answer "distinct over the last
    7 days", the only shape that survives an unbounded stream."""
    from fineo_readerator_spark.llm_ops.sketches import (
        hll_registers,
        hll_rolling_finalize,
    )

    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    keyed = stream.select(
        F.expr(f"unix_millis(event_time) div {DAY_MS}").alias("day"),
        F.col("user_id").cast("string").alias("k"),
    )
    regs = hll_registers(keyed, F.col("k"), group_cols=("day",))
    drained = _drain(regs, "st_hll_rolling_sink", "complete")
    return hll_rolling_finalize(drained, "day", window=7)


def _st_hll_rolling_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sketches import hll_rolling_oracle_sql

    return hll_rolling_oracle_sql(
        f"SELECT epoch_ms(ts) // {DAY_MS} AS day,"
        " CAST(user_id AS VARCHAR) AS k FROM events",
        "day",
        "k",
        window=7,
    )


def st_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming p50/p90/p99 of the metric value via the fixed-bin
    histogram sketch: the streaming aggregation state IS the mergeable
    (bin, cnt) table — counts are associative/commutative and the bin
    cardinality is value-range/width, bounded regardless of stream length
    — and the quantile walk finalizes on READ from the drained bin table
    (the stored-registers / estimate-on-read split st_hll_distinct uses;
    streaming can't chain the cumulative window onto the aggregation in
    one query)."""
    from fineo_readerator_spark.llm_ops.sketches import quantiles_from_bins

    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    v = F.col("value").cast("double")
    bins = (
        stream.filter(v.isNotNull())
        .select(F.floor((v - F.lit(0.0)) / F.lit(25.0)).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    drained = _drain(bins, "st_qhist_sink", "complete")
    return quantiles_from_bins(drained, width=25.0, quantiles=(0.5, 0.9, 0.99))


def _st_quantile_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sketches import histogram_quantiles_oracle_sql

    return histogram_quantiles_oracle_sql(
        "SELECT value FROM events", "value", width=25.0, quantiles=(0.5, 0.9, 0.99)
    )


def st_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup: a document stream (doc_id % 5 == 0) probes
    the PERSISTED MinHash signature store of the rest of the corpus and
    emits every verified near-dup pair in append mode.

    Fully stateless except the pair-dedup: signatures are the row-local
    single-pass fold (no aggregation, so no watermark needed) computed with
    the STORE's hash family (from its meta — a drifted parameter would be
    silent false negatives), and verification is the same
    ``probe_signature_store`` the batch flags use, here running its
    stream-static joins per micro-batch."""
    from fineo_readerator_spark.llm_ops.dedup import (
        minhash_signature_from,
        probe_signature_store,
        read_store_meta,
        shingle_hashes,
    )
    from fineo_readerator_spark.plans.llm_queries import ensure_minhash_store
    from fineo_readerator_spark.sources import SourceSpec

    store = ensure_minhash_store(spark, sf_dir)
    meta = read_store_meta(spark, store)
    # SourceSpec.read_stream handles the single-file-fixture glob workaround
    delta = (
        SourceSpec(kind="historical", path=f"{sf_dir}/documents.parquet")
        .read_stream(spark)
        .filter(F.col("doc_id") % 5 == 0)
    )
    sig = minhash_signature_from(
        shingle_hashes(F.col("text"), meta["shingle_k"]),
        meta["num_hashes"],
        meta["seed"],
    )
    d_sigs = delta.select(F.col("doc_id").alias("id"), sig.alias("sig"))
    pairs = probe_signature_store(d_sigs, store, threshold=0.7).select(
        F.col("id").alias("doc_id"), "base_id", "est"
    )
    return _drain(pairs, "st_store_probe_sink", "append")


def _st_store_probe_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import incremental_pairs_oracle

    return incremental_pairs_oracle(
        "SELECT doc_id, text FROM documents", "doc_id % 5 = 0"
    )


def st_metric_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL recombinator build as a STREAM: the split two-store metric
    (historical + nearline over the same corpus, nearline owning
    [CUTOVER_MS, ∞)) streams through ``build_metric_stream`` — alias→
    canonical coalesce (historical stores ``value`` only under
    ``val_alias``), anti-overlap cutover, raw-ts filter twins — drained
    available-now.  Exactly one copy of every row must survive, with the
    aliased values recovered on the historical side of the cutover; any
    stale-branch leak or alias miss breaks the value hash."""
    from fineo_readerator_spark.plans.metric_queries import CUTOVER_MS, EVENT_DERIVE
    from fineo_readerator_spark.schema_store import FieldDef, MetricSchema, SchemaStore
    from fineo_readerator_spark.sources import SourceSpec, TimeRange

    fields = [
        FieldDef("event_id", "long"),
        FieldDef("user_id", "long"),
        FieldDef("event_type", "string"),
        FieldDef("value", "double", aliases=["val_alias"]),
    ]
    st = SchemaStore()
    st.register_metric(MetricSchema(org=ORG, metric=METRIC, fields=fields))
    path = f"{sf_dir}/events.parquet"
    raw_ts = {"raw_ts_col": "ts", "raw_ts_per_milli": 1_000_000}
    hist_derive = dict(EVENT_DERIVE)
    hist_derive["val_alias"] = "value"
    hist_derive["value"] = "cast(null as double)"  # canonical col present, null
    st.add_source(
        ORG, METRIC, SourceSpec(kind="historical", path=path, derive=hist_derive, **raw_ts)
    )
    st.add_source(
        ORG,
        METRIC,
        SourceSpec(
            kind="nearline",
            path=path,
            derive=dict(EVENT_DERIVE),
            time_range=TimeRange(CUTOVER_MS, None),
            **raw_ts,
        ),
    )
    stream = build_metric_stream(spark, st, ORG, METRIC).select(
        "timestamp", "event_id", "user_id", "event_type", "value"
    )
    return _drain(stream, "st_metric_build_sink", "append")


ST_METRIC_BUILD_ORACLE = (
    'SELECT epoch_ms(ts) AS "timestamp", event_id, user_id, event_type, value FROM events'
)


def st_kv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KV snapshot as a STREAM: the fineo_kv DataSourceStreamReader
    re-queries the bucketed store per micro-batch with file-set offsets —
    the Spark-native version of the reference's continuous nearline
    re-query (`SubTableScanBuilder.java:44-112`).  Drained available-now
    over the static fixture, the stream must produce exactly the full
    store (the incremental exactly-once path is pinned in
    tests/test_kvsource.py)."""
    from fineo_readerator_spark.kvsource import register
    from fineo_readerator_spark.plans.kv_queries import KV_SCHEMA, ensure_snapshot
    from fineo_readerator_spark.session import ensure_io_confs

    # streaming state partitioning binds spark.sql.shuffle.partitions at
    # query start; when the snapshot cache is warm nothing else calls
    # load()/ensure_io_confs, so a vanilla driver session would run the
    # 3-group aggregation over 200 state partitions
    ensure_io_confs(spark)
    register(spark)
    stream = (
        spark.readStream.format("fineo_kv")
        .schema(KV_SCHEMA)
        .option("path", ensure_snapshot(spark, sf_dir))
        .option("pk", "o_custkey")
        .option("sk", "o_orderkey")
        .load()
    )
    agg = stream.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").alias(
            "total"
        ),
    )
    return _drain(agg, "st_kv_stream_sink", "complete")


ST_KV_STREAM_ORACLE = """
SELECT o_orderstatus, count(*) AS n,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
FROM orders GROUP BY o_orderstatus
"""


def st_store_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of streaming ingest dedup: the delta stream probes a
    fresh copy of the base signature store and the non-dup documents'
    signatures are APPENDED per micro-batch (``maintain_signature_store``
    foreachBatch loop).  The result is the final store membership — base
    ids plus exactly the delta ids that near-dup nothing stored; an
    admission leak or an over-rejection breaks the value hash.  The store
    copy is built in a run-local temp dir so the query is repeatable
    (registry queries must not mutate shared caches)."""
    import tempfile

    from fineo_readerator_spark.llm_ops.dedup import write_signature_store
    from fineo_readerator_spark.sources import SourceSpec
    from fineo_readerator_spark.streaming import maintain_signature_store

    tmp = tempfile.mkdtemp(prefix="fineo_store_maintain_")
    store = f"{tmp}/store"
    base = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 != 0)
    write_signature_store(base, store)
    delta = (
        SourceSpec(kind="historical", path=f"{sf_dir}/documents.parquet")
        .read_stream(spark)
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    q = maintain_signature_store(delta, store, checkpoint=f"{tmp}/ck")
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    # the oracle replays ONE-batch admission (every delta doc probes the
    # BASE only); if the file source ever splits the delta into several
    # micro-batches (multi-part fixture, maxFilesPerTrigger), admission
    # decisions would also consider earlier delta batches and the hash
    # would diverge silently — fail loudly instead
    if n_batches != 1:
        raise AssertionError(
            f"st_store_maintain expects the delta in ONE micro-batch, got "
            f"{n_batches}: the single-batch oracle no longer applies"
        )
    sigs = spark.read.schema("id long, sig array<bigint>").parquet(f"{store}/sigs")
    return sigs.select(F.col("id").alias("doc_id")).orderBy("doc_id")


def _st_store_maintain_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import incremental_pairs_oracle

    pairs = incremental_pairs_oracle(
        "SELECT doc_id, text FROM documents", "doc_id % 5 = 0"
    )
    return f"""
SELECT doc_id FROM documents WHERE NOT (doc_id % 5 = 0)
UNION ALL
SELECT doc_id FROM documents WHERE doc_id % 5 = 0
  AND doc_id NOT IN (SELECT doc_id FROM ({pairs}))
ORDER BY doc_id
"""


def st_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mini-batch k-means (streaming.maintain_kmeans_model): the
    embedding stream moves the persisted 16-cell model by count-weighted
    running means per micro-batch; seeded with zero counts, the single
    available-now batch is an exact Lloyd step, which the oracle replays
    from the unrolled kmeans CTE walk.  Output is the final model state —
    (cluster_id, n_vecs, dim_idx, component) — read back from the
    pointer-flipped generation file.  Model dirs are run-local temp
    (registry queries must not mutate shared caches)."""
    import tempfile

    from fineo_readerator_spark.llm_ops.similarity import seeded_codebook
    from fineo_readerator_spark.sources import SourceSpec
    from fineo_readerator_spark.streaming import (
        init_kmeans_model,
        maintain_kmeans_model,
        read_kmeans_model,
    )

    tmp = tempfile.mkdtemp(prefix="fineo_st_kmeans_")
    model = f"{tmp}/model"
    # seed from the RANKABLE frame only (the kmeans_refine contract the
    # maintainer's batch filter also applies): a NULL embedding among the
    # lowest ids would crash seeding, a misdimensioned one would become a
    # stored centroid the oracle's filtered c0 never sees
    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    init_kmeans_model(spark, model, seeded_codebook(emb, "vec_id", "embedding", 16))
    stream = (
        SourceSpec(kind="historical", path=f"{sf_dir}/embeddings.parquet")
        .read_stream(spark)
        .select("vec_id", "embedding")
    )
    q = maintain_kmeans_model(stream, model, checkpoint=f"{tmp}/ck")
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    # the oracle replays ONE Lloyd step from zero counts; a split feed would
    # apply running-mean updates twice and diverge silently — fail loudly
    if n_batches != 1:
        raise AssertionError(
            f"st_kmeans expects the embeddings in ONE micro-batch, got "
            f"{n_batches}: the single-step oracle no longer applies"
        )
    state = read_kmeans_model(spark, model)
    rows = [
        (cid, n, i + 1, comp)
        for cid, n, v in state
        for i, comp in enumerate(v)
    ]
    return spark.createDataFrame(
        rows, "cluster_id long, n_vecs long, dim_idx int, component double"
    ).orderBy("cluster_id", "dim_idx")


def _st_kmeans_oracle(dim: int = 64) -> str:
    from fineo_readerator_spark.llm_ops.similarity import kmeans_cte_parts

    parts, _ = kmeans_cte_parts(
        "SELECT vec_id, embedding FROM embeddings", n_centroids=16, n_iters=1, dim=dim
    )
    parts.append("cnt AS (SELECT cell AS cid, count(*) AS n FROM a0 GROUP BY cell)")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT c0.cid AS cluster_id, coalesce(cnt.n, 0) AS n_vecs,
       CAST(g.i AS INT) AS dim_idx,
       coalesce(c1.cent[CAST(g.i AS INT)],
                CAST(c0.cent[CAST(g.i AS INT)] AS DOUBLE)) AS component
FROM c0
LEFT JOIN c1 ON c0.cid = c1.cid
LEFT JOIN cnt ON c0.cid = cnt.cid
CROSS JOIN generate_series(1, {dim}) AS g(i)
ORDER BY cluster_id, dim_idx"""
    )


def st_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC ingestion: a change stream MERGEs into a parquet
    snapshot per micro-batch (streaming.apply_cdc_stream — copy-on-write
    generations + pointer flipped LAST, so batch replays converge).  The
    change batch is the same synthesized feed as `p_cdc_merge` (deletes,
    updates, shifted inserts, and a conflicting update+delete pair that
    latest-wins must resolve to the delete), derived in-stream via one
    explode over per-row change structs.  Snapshot dirs are run-local temp
    (registry queries must not mutate shared caches)."""
    import tempfile

    from fineo_readerator_spark.sources import SourceSpec
    from fineo_readerator_spark.streaming import (
        apply_cdc_stream,
        init_cdc_snapshot,
        read_cdc_snapshot,
    )

    from fineo_readerator_spark.plans.llm_queries import _SHIFT as shift

    tmp = tempfile.mkdtemp(prefix="fineo_cdc_apply_")
    snap = f"{tmp}/snapshot"
    base = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    init_cdc_snapshot(base, snap)

    did = F.col("doc_id")

    def mk(op: str, seq: int, idc, txt):
        return F.struct(
            idc.cast("long").alias("doc_id"),
            F.lit(op).alias("op"),
            F.lit(seq).alias("seq"),
            txt.alias("text"),
            F.col("source").alias("source"),
        )

    arr = F.array(
        F.when(did % 13 == 2, mk("delete", 1, did, F.col("text"))),
        F.when(did % 11 == 3, mk("update", 1, did, F.concat(F.col("text"), F.lit(" (rev)")))),
        F.when(did % 17 == 5, mk("insert", 1, did + shift, F.col("text"))),
        F.when(did % 19 == 4, mk("delete", 2, did, F.col("text"))),
        F.when(did % 19 == 4, mk("update", 1, did, F.concat(F.col("text"), F.lit(" (lost)")))),
    )
    changes = (
        SourceSpec(kind="historical", path=f"{sf_dir}/documents.parquet")
        .read_stream(spark)
        .select(F.explode(arr).alias("c"))
        .filter(F.col("c").isNotNull())
        .select("c.*")
    )
    q = apply_cdc_stream(changes, snap, checkpoint=f"{tmp}/ck")
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    # the oracle replays ONE merge of the whole feed; a split feed could
    # order a conflicting update AFTER its winning delete (re-insert via
    # upsert) and diverge silently — fail loudly instead
    if n_batches != 1:
        raise AssertionError(
            f"st_cdc_apply expects the change feed in ONE micro-batch, got "
            f"{n_batches}: the single-batch oracle no longer applies"
        )
    return read_cdc_snapshot(spark, snap).orderBy("doc_id")


def _st_cdc_apply_oracle() -> str:
    from fineo_readerator_spark.plans.llm_queries import _p_cdc_merge_oracle

    return _p_cdc_merge_oracle()


def st_audit_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality monitor: per-1-day-window violation counts
    (NULL user ids, negative values) over a deterministically-dirtied
    metric stream — the operators/audit.py row-check family as a
    watermarked windowed aggregate, so a bad ingest generation alarms
    within a window of landing instead of at the next batch audit.  State
    is one count row per open window; violations are conditional
    aggregates fused into the SAME windowed agg (no second pass)."""
    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    uid = F.col("user_id")
    dirty = stream.select(
        "event_time",
        F.when(uid % 19 == 7, F.lit(None).cast(stream.schema["user_id"].dataType))
        .otherwise(uid)
        .alias("user_id"),
        F.when(uid % 23 == 11, -F.col("value")).otherwise(F.col("value")).alias("value"),
    )
    counts = windowed_rollup(
        dirty,
        "event_time",
        keys=[],
        aggs={
            "n": "count(*)",
            "null_user": "count(CASE WHEN user_id IS NULL THEN 1 END)",
            "neg_value": "count(CASE WHEN value < 0 THEN 1 END)",
        },
        window="1 day",
        watermark="1 day",
    )
    drained = _drain(counts, "st_audit_monitor_sink", "complete")
    return drained.withColumn(
        "passed", (F.col("null_user") + F.col("neg_value")) == 0
    ).orderBy("window_start")


def st_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming filter-funnel monitor: per-1-day-window counts by FIRST
    failing gate (has_user → nonneg_value → small_value; stage 0 = passed
    all) over the same deterministically-dirtied metric stream as
    ``st_audit_monitor`` — the batch ``quality_funnel`` attribution
    semantics as a watermarked windowed aggregate, so a curation regression
    shows WHICH gate started eating the feed within a window of landing.
    State is one count row per (open window, stage) — ≤ 4 stages.  NULL
    gate verdicts FAIL (coalesce-pinned, the quality_funnel contract)."""
    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    uid = F.col("user_id")
    dirty = stream.select(
        "event_time",
        F.when(uid % 19 == 7, F.lit(None).cast(stream.schema["user_id"].dataType))
        .otherwise(uid)
        .alias("user_id"),
        F.when(uid % 23 == 11, -F.col("value")).otherwise(F.col("value")).alias("value"),
    )
    g2 = F.coalesce(F.col("value") >= 0, F.lit(False))
    g3 = F.coalesce(F.col("value") <= 200, F.lit(False))
    staged = dirty.select(
        "event_time",
        F.when(F.col("user_id").isNull(), 1)
        .when(~g2, 2)
        .when(~g3, 3)
        .otherwise(0)
        .cast("int")
        .alias("stage"),
    )
    counts = windowed_rollup(
        staged,
        "event_time",
        keys=["stage"],
        aggs={"n": "count(*)"},
        window="1 day",
        watermark="1 day",
    )
    drained = _drain(counts, "st_funnel_sink", "complete")
    return drained.orderBy("window_start", "stage")


ST_FUNNEL_ORACLE = f"""
WITH staged AS (
  SELECT epoch_ms(ts) AS ts_ms,
         CASE WHEN user_id % 19 = 7 OR user_id IS NULL THEN 1
              WHEN NOT coalesce(
                (CASE WHEN user_id % 23 = 11 THEN -value ELSE value END) >= 0, FALSE)
                THEN 2
              WHEN NOT coalesce(
                (CASE WHEN user_id % 23 = 11 THEN -value ELSE value END) <= 200, FALSE)
                THEN 3
              ELSE 0 END AS stage
  FROM events
)
SELECT (ts_ms // {DAY_MS}) * {DAY_MS} AS window_start,
       (ts_ms // {DAY_MS}) * {DAY_MS} + {DAY_MS} AS window_end,
       CAST(stage AS INT) AS stage, count(*) AS n
FROM staged GROUP BY 1, 2, 3 ORDER BY window_start, stage
"""


ST_AUDIT_ORACLE = f"""
SELECT (epoch_ms(ts) // {DAY_MS}) * {DAY_MS} AS window_start,
       (epoch_ms(ts) // {DAY_MS}) * {DAY_MS} + {DAY_MS} AS window_end,
       count(*) AS n,
       count(*) FILTER (user_id % 19 = 7 OR user_id IS NULL) AS null_user,
       count(*) FILTER (CASE WHEN user_id % 23 = 11 THEN -value ELSE value END < 0)
         AS neg_value,
       count(*) FILTER (user_id % 19 = 7 OR user_id IS NULL)
         + count(*) FILTER (CASE WHEN user_id % 23 = 11 THEN -value ELSE value END < 0)
         = 0 AS passed
FROM events GROUP BY 1, 2 ORDER BY 1
"""


def st_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: the stream reduces to 1-day
    windowed event_type counts (watermarked aggregate — the only
    corpus-sized work), then each drained window's distribution scores
    against the static full-corpus baseline as per-category PSI terms
    (llm_ops.sampling.windowed_drift).  The alarm is sum(psi_term) per
    window; everything after the drain is (windows × categories)-sized."""
    from fineo_readerator_spark.llm_ops.sampling import windowed_drift

    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    counts = windowed_rollup(
        stream,
        "event_time",
        keys=["event_type"],
        aggs={"n": "count(*)"},
        window="1 day",
        watermark="1 day",
    )
    drained = _drain(counts, "st_drift_sink", "complete")
    baseline = load(spark, sf_dir, "events")
    return windowed_drift(
        drained.select("window_start", "event_type", "n"), baseline, "event_type"
    )


def _st_drift_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import windowed_drift_oracle_sql

    wc = (
        f"SELECT (epoch_ms(ts) // {DAY_MS}) * {DAY_MS} AS window_start,"
        " event_type, count(*) AS n FROM events GROUP BY 1, 2"
    )
    return windowed_drift_oracle_sql(wc, "SELECT event_type FROM events", "event_type")


def st_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly monitor: the stream reduces to watermarked hourly
    event_type counts (the only corpus-sized work), then the drained
    series densifies (operators.gapfill — a silent hour must flag, so
    gaps become 0 first) and scores against its trailing 24 hours
    (operators.anomaly.rolling_zscore).  Everything after the drain runs
    on the |keys × hours| spine.  Same composition as the batch
    q_anomaly_zscore, so the batch oracle checks the whole pipeline."""
    from fineo_readerator_spark.operators.anomaly import rolling_zscore
    from fineo_readerator_spark.operators.gapfill import gap_fill

    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    counts = windowed_rollup(
        stream,
        "event_time",
        keys=["event_type"],
        aggs={"n": "count(*)"},
        window="1 hour",
        watermark="1 day",
    )
    drained = _drain(counts, "st_anomaly_sink", "complete")
    agg = drained.select(
        "event_type",
        F.expr("CAST(timestamp_millis(window_start) AS timestamp_ntz)").alias(
            "bucket"
        ),
        "n",
    )
    dense = gap_fill(agg, "bucket", ("event_type",), step="1 hour", count_col="n")
    return rolling_zscore(
        dense, "n", "bucket", ("event_type",), window=24, min_periods=12,
        z_thresh=3.0,
    ).select("event_type", "bucket", "n", "z", "is_anomaly").orderBy(
        "event_type", "bucket"
    )


def _st_anomaly_oracle() -> str:
    from fineo_readerator_spark.plans.relational_queries import _q_anomaly_oracle

    return _q_anomaly_oracle()


def st_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cohort retention: the stream reduces to watermarked daily
    (user, day) activity counts — the per-user daily dedup happens IN the
    stream (state = one count row per (day, user), watermark-evicted) —
    then the drained activity frame feeds the batch retention matrix.
    Same composition contract as st_anomaly: the batch oracle checks the
    full pipeline."""
    from fineo_readerator_spark.operators.cohort import retention_matrix

    stream = build_metric_stream(spark, events_store(sf_dir), ORG, METRIC)
    daily = windowed_rollup(
        stream,
        "event_time",
        keys=["user_id"],
        aggs={"n": "count(*)"},
        window="1 day",
        watermark="1 day",
    )
    drained = _drain(daily, "st_retention_sink", "complete")
    act = drained.select(
        "user_id",
        F.expr("CAST(timestamp_millis(window_start) AS timestamp_ntz)").alias(
            "bucket"
        ),
    )
    return retention_matrix(act, "user_id", "bucket", granularity_days=1)


def _st_retention_oracle() -> str:
    from fineo_readerator_spark.operators.cohort import retention_oracle_sql

    return retention_oracle_sql("SELECT user_id, ts FROM events")


STREAMING_QUERIES = [
    QueryDef("st_kmeans", st_kmeans, _st_kmeans_oracle()),
    QueryDef("st_cdc_apply", st_cdc_apply, _st_cdc_apply_oracle()),
    QueryDef("st_audit_monitor", st_audit_monitor, ST_AUDIT_ORACLE),
    QueryDef("st_funnel", st_funnel, ST_FUNNEL_ORACLE),
    QueryDef("st_drift", st_drift, _st_drift_oracle()),
    QueryDef("st_anomaly", st_anomaly, _st_anomaly_oracle()),
    QueryDef("st_retention", st_retention, _st_retention_oracle()),
    QueryDef("st_store_maintain", st_store_maintain, _st_store_maintain_oracle()),
    QueryDef("st_kv_stream", st_kv_stream, ST_KV_STREAM_ORACLE),
    QueryDef("st_metric_build", st_metric_build, ST_METRIC_BUILD_ORACLE),
    QueryDef("st_windowed_rollup", st_windowed_rollup, ST_ROLLUP_ORACLE, bench=True),
    QueryDef("st_store_probe", st_store_probe, _st_store_probe_oracle()),
    QueryDef("st_hll_distinct", st_hll_distinct, _st_hll_oracle()),
    QueryDef("st_hll_rolling", st_hll_rolling, _st_hll_rolling_oracle()),
    QueryDef("st_quantile_hist", st_quantile_hist, _st_quantile_oracle()),
    QueryDef("st_sessionize", st_sessionize, ST_SESSION_ORACLE),
    QueryDef("st_running_totals", st_running_totals, ST_TOTALS_ORACLE),
    QueryDef("st_dedup", st_dedup, ST_DEDUP_ORACLE),
    QueryDef("st_stream_static_join", st_stream_static_join, ST_SS_JOIN_ORACLE),
    QueryDef("st_stream_stream_join", st_stream_stream_join, ST_INTERVAL_JOIN_ORACLE),
]
