"""Structured Streaming over metric sources.

The reference is a batch read layer over continuously-arriving time-series
events (nearline DynamoDB windows + ETL'd historical files,
`SubTableScanBuilder.java:44-112`); its "streaming" is re-querying.  The
Spark-native upgrade is first-class Structured Streaming: the same
recombinator build as batch (source selection, item expansion, cutover, alias
coalesce + casts + ``_fm``, `FineoRecombinatorRule.java:49-177`) composed
over ``readStream``, with event-time watermarks for late data and stateful
operators for what re-querying can't express.

Scale notes:
- The canonical projection is stateless/narrow — it adds no shuffle to the
  stream; only the windowed aggregations shuffle, on (key, window).
- Watermarks bound state size: state for windows older than the watermark is
  dropped, so 100 TB/day of events holds only the active-window state.
- ``stateful_running_totals`` keeps O(1) state per key (sum/count/max), not
  per-event state; keys are hash-partitioned across executors.
- File-source streams list directories incrementally; at production scale the
  same operators run unchanged on a Kafka source (swap
  ``SourceSpec.read_stream``).
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fineo_readerator_spark.pruning import RangeSet
from fineo_readerator_spark.recombinator import _union_branches
from fineo_readerator_spark.schema_store import SchemaStore
from fineo_readerator_spark.sources import SourceSpec


def build_metric_stream(
    spark: SparkSession,
    store: SchemaStore,
    org: str,
    metric: str,
    event_time_col: str = "event_time",
) -> DataFrame:
    """One metric table as a stream: ``build_metric_df``'s recombinator build
    over ``SourceSpec.read_stream``, plus a derived ``event_time`` TIMESTAMP
    (from the epoch-millis ``timestamp``) ready for watermarking.  No final
    sort — ORDER BY is illegal on unbounded streams; consumers window
    instead.  Late-added fields read NULL, same as batch
    (`TestClientLikeReads.java:193-260`); every build step is narrow, so only
    downstream aggregations add streaming state."""
    schema = store.get_metric(org, metric)
    sources = store.get_sources(org, metric)
    out, _, _ = _union_branches(spark, schema, sources, RangeSet.all(), SourceSpec.read_stream)
    if out is None:
        # the batch build falls back to an empty DataFrame, but a STREAM
        # needs at least one streaming source to exist — fail with the reason
        raise ValueError(
            f"no live sources for metric {org!r}.{metric!r}: register at least "
            "one source before reading it as a stream"
        )
    return out.withColumn(event_time_col, F.timestamp_millis(F.col(schema.timestamp_field)))


def windowed_rollup(
    df: DataFrame,
    event_time_col: str,
    keys: list[str],
    aggs: dict[str, str],
    window: str = "1 minute",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation.

    ``aggs`` maps output alias -> SQL aggregate expression.  Emits
    ``window_start``/``window_end`` as epoch millis so results are join- and
    compare-friendly.  Late rows beyond ``watermark`` are dropped and the
    corresponding state evicted — the property that makes this run forever."""
    w = F.window(F.col(event_time_col), window, slide or window)
    agg_cols = [F.expr(expr).alias(name) for name, expr in aggs.items()]
    return (
        df.withWatermark(event_time_col, watermark)
        .groupBy(w.alias("w"), *[F.col(k) for k in keys])
        .agg(*agg_cols)
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start"),
            F.unix_millis(F.col("w.end")).alias("window_end"),
            *keys,
            *[F.col(name) for name in aggs],
        )
    )


def sessionize(
    df: DataFrame,
    event_time_col: str,
    keys: list[str],
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    aggs: Optional[dict[str, str]] = None,
) -> DataFrame:
    """Session windows (gap-based): built-in ``session_window`` keeps merging
    state per (key, open session) and closes a session ``gap`` after its last
    event.  Default output: session bounds + event count."""
    aggs = aggs or {"n_events": "count(*)"}
    agg_cols = [F.expr(expr).alias(name) for name, expr in aggs.items()]
    sw = F.session_window(F.col(event_time_col), gap)
    return (
        df.withWatermark(event_time_col, watermark)
        .groupBy(sw.alias("s"), *[F.col(k) for k in keys])
        .agg(*agg_cols)
        .select(
            F.unix_millis(F.col("s.start")).alias("session_start"),
            F.unix_millis(F.col("s.end")).alias("session_end"),
            *keys,
            *[F.col(name) for name in aggs],
        )
    )


_RUNNING_STATE = T.StructType(
    [
        T.StructField("cnt", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
    ]
)
_RUNNING_OUT = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
    ]
)


def stateful_running_totals(
    df: DataFrame, key_col: str, value_col: str, timeout: str = GroupStateTimeout.NoTimeout
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-key running
    count/sum/max across *all* micro-batches — cross-batch accumulation that
    plain windowed aggregation can't express (its state is per-window).

    The operator the reference has no analog for: its clients re-scan to
    recompute totals; here state lives with the stream.  State is 3 numbers
    per key; Arrow moves each batch's rows, not the history."""

    def update(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            cnt, total, vmax = state.get
        else:
            cnt, total, vmax = 0, 0.0, None
        for pdf in pdfs:
            vals = pd.to_numeric(pdf[value_col], errors="coerce").dropna()
            cnt += len(pdf)
            total += float(vals.sum()) if len(vals) else 0.0
            if len(vals):
                m = float(vals.max())
                vmax = m if vmax is None else max(vmax, m)
        state.update((cnt, total, vmax))
        yield pd.DataFrame(
            [{"key": key[0], "cnt": cnt, "total": total, "vmax": vmax}]
        ).astype({"vmax": "float64"})  # None → NaN → NULL, never an object column

    return df.groupBy(F.col(key_col)).applyInPandasWithState(
        update, _RUNNING_OUT, _RUNNING_STATE, "update", timeout
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_time_col: str,
    right_time_col: str,
    upper: str,
    watermark: str,
) -> DataFrame:
    """Stream-stream inner join on ``key`` with a time-interval condition:
    right event in ``[left_time, left_time + upper]``.

    Both sides carry watermarks and the join condition bounds event time in
    BOTH directions, which is what lets Spark evict buffered rows: each
    side's state holds only rows inside the watermark + interval horizon —
    the canonical funnel/attribution join that runs forever on unbounded
    inputs.  One shuffle per side on the key."""
    lw = left.withWatermark(left_time_col, watermark)
    rw = right.withWatermark(right_time_col, watermark)
    cond = (
        (lw[key_col] == rw[key_col])
        & (rw[right_time_col] >= lw[left_time_col])
        & (rw[right_time_col] <= F.expr(f"{left_time_col} + interval {upper}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key_col])


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    event_time_col: str = "event_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each key wins; duplicate
    arrivals within the watermark are dropped.  State holds one entry per key
    and is evicted once the watermark passes — the property that lets a
    dedup stream run forever (plain ``dropDuplicates`` on a stream would
    grow state without bound).  The batch analog is ``llm_ops.exact_dedup``."""
    return df.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(keys)


def maintain_signature_store(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    available_now: bool = True,
):
    """The complete streaming-ingest dedup loop: each micro-batch probes
    the persisted MinHash store, the non-duplicate documents' signatures
    are APPENDED to the store, and later batches probe the grown store —
    so a near-dup of an earlier admitted batch is rejected even though
    neither doc was in the original corpus.  ``st_store_probe`` is the
    read-only half; this closes the write half via ``foreachBatch``
    (stream→batch handoff, checkpointed at-least-once; replayed appends
    leave duplicate sig rows, which every probe aggregate tolerates —
    see ``append_to_signature_store``).

    Returns the started StreamingQuery; the caller awaits/stops it."""
    from fineo_readerator_spark.llm_ops.dedup import admit_batch_to_store

    def _admit(batch: DataFrame, _batch_id: int) -> None:
        # the flags are computed (and pinned) inside; the action is the
        # store append — the returned flags frame is intentionally unused
        admit_batch_to_store(batch, store_path, id_col, text_col, threshold)

    w = stream.writeStream.foreachBatch(_admit).option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def run_available_now(df: DataFrame, query_name: str, output_mode: str = "append"):
    """Drain everything currently available through the memory sink and stop —
    the test/backfill harness (``trigger(availableNow=True)`` processes all
    pending input in bounded batches, then finishes)."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def write_stream_parquet(
    df: DataFrame, path: str, checkpoint: str, output_mode: str = "append", available_now: bool = False
):
    """Continuous (or drain-once) parquet sink with exactly-once checkpointing."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _read_pointer(spark: SparkSession, path: str) -> str:
    """Current-generation pointer file content (shared Hadoop-FS text reader
    — same filesystem the generations were written to)."""
    from fineo_readerator_spark.llm_ops.dedup import _fs_read_text

    try:
        return _fs_read_text(spark, path).strip()
    except ValueError:
        raise ValueError(
            f"snapshot pointer {path!r} missing — initialize the snapshot first"
        ) from None


def init_cdc_snapshot(
    base: DataFrame, snapshot_dir: str, pointer: str = "_CURRENT"
) -> None:
    """Write generation 0 of a CDC-maintained snapshot and its pointer
    (pointer LAST — the completion-marker convention every derived store in
    this repo follows)."""
    from fineo_readerator_spark.llm_ops.dedup import _fs_write_text

    base.write.mode("overwrite").parquet(f"{snapshot_dir}/gen-base")
    _fs_write_text(base.sparkSession, f"{snapshot_dir}/{pointer}", "gen-base")


def apply_cdc_stream(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    op_col: str = "op",
    seq_col: str | None = "seq",
    payload_cols: list[str] | None = None,
    pointer: str = "_CURRENT",
    app_id: str | None = None,
):
    """Streaming CDC ingestion: each micro-batch of change rows MERGEs into
    the current snapshot generation and writes the NEXT one — the
    copy-on-write lakehouse ingest loop (`MERGE INTO` per batch) with
    immutable parquet generations and an atomic pointer flip.

    Generations are NAMESPACED by a run/app id (Delta's ``txnAppId``
    pattern): dirs are ``gen-<app>-<batch_id>``, where ``app_id`` defaults
    to a per-call nonce.  Batch ids are only unique *per checkpoint*, so an
    un-namespaced ``gen-<batch_id>`` had two failure modes when a stream was
    restarted with a FRESH checkpoint against an existing snapshot: batch 0
    collided with the old run's ``gen-0`` and was silently skipped as "a
    replay" (data loss), and later reused batch ids OVERWROTE older
    generation dirs, destroying time travel.  With namespacing, a fresh
    checkpoint always merges (new namespace ≠ pointer) and always writes to
    fresh dirs.

    Exactly-once by construction, covering BOTH at-least-once replay
    windows: a crash between generation commit and pointer flip re-runs
    the batch against the old pointer and overwrites its own generation
    idempotently; a crash between pointer flip and checkpoint commit
    replays a batch whose generation is already current.  With a caller
    -supplied stable ``app_id`` that replay is detected by
    ``pointer == gen-<app>-<batch_id>`` and skipped outright; with the
    default per-call nonce a post-restart replay computes a NEW gen name
    and re-MERGEs instead — safe because :func:`apply_changes` is
    idempotent (the delta wins for matched ids, deletes of absent ids are
    no-ops), and it reads the old generation rather than its own output.
    Old generations remain readable (time travel) until compacted away.

    Scale shape per batch: one id-keyed join of snapshot × delta
    (:func:`~fineo_readerator_spark.llm_ops.versioning.apply_changes` —
    the delta side broadcasts when small), one snapshot rewrite.  At 100 TB
    the rewrite is the cost ceiling — partition the snapshot by an id
    bucket and rewrite only partitions the batch touches (the usual
    copy-on-write refinement); the merge semantics are unchanged."""
    import uuid

    from fineo_readerator_spark.llm_ops.dedup import _fs_write_text
    from fineo_readerator_spark.llm_ops.versioning import apply_changes

    spark = changes.sparkSession
    run = app_id or uuid.uuid4().hex[:12]

    def _apply(batch: DataFrame, batch_id: int) -> None:
        cur_gen = _read_pointer(spark, f"{snapshot_dir}/{pointer}")
        gen = f"gen-{run}-{batch_id}"
        if cur_gen == gen:
            # foreachBatch is at-least-once: a crash AFTER the pointer flip
            # but BEFORE the checkpoint commit replays this batch with the
            # pointer already at its own generation — merging again would
            # read and overwrite the same directory (Spark refuses, and on
            # engines that don't the scan eats its own input).  The flip
            # was the last effect of the previous attempt, so the batch is
            # fully applied: skip.  (Only reachable within one run, or
            # across restarts when the caller pins a stable ``app_id`` —
            # a fresh nonce never equals the pointer.)
            return
        cur = spark.read.parquet(f"{snapshot_dir}/{cur_gen}")
        nxt = apply_changes(cur, batch, id_col, op_col, seq_col, payload_cols)
        nxt.write.mode("overwrite").parquet(f"{snapshot_dir}/{gen}")
        _fs_write_text(spark, f"{snapshot_dir}/{pointer}", gen)

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def init_kmeans_model(
    spark: SparkSession,
    model_dir: str,
    seeds: list[tuple[int, list[float]]],
    pointer: str = "_CURRENT",
) -> None:
    """Write generation 0 of a streaming-maintained k-means model: one
    (cid, count=0, centroid) state per seed cell, pointer flipped LAST (the
    completion-marker convention).  Zero counts make the FIRST batch's
    update an exact Lloyd step (batch mean), which is what the oracle
    replays."""
    import json

    from fineo_readerator_spark.llm_ops.dedup import _fs_write_text

    cells = [[int(cid), 0, [float(x) for x in v]] for cid, v in seeds]
    _fs_write_text(spark, f"{model_dir}/model-base.json", json.dumps({"cells": cells}))
    _fs_write_text(spark, f"{model_dir}/{pointer}", "model-base.json")


def read_kmeans_model(
    spark: SparkSession, model_dir: str, pointer: str = "_CURRENT"
) -> list[tuple[int, int, list[float]]]:
    """The current (cid, count, centroid) model state (follows the pointer)."""
    import json

    from fineo_readerator_spark.llm_ops.dedup import _fs_read_text

    cur = _read_pointer(spark, f"{model_dir}/{pointer}")
    doc = json.loads(_fs_read_text(spark, f"{model_dir}/{cur}"))
    return [(int(c), int(n), [float(x) for x in v]) for c, n, v in doc["cells"]]


def maintain_kmeans_model(
    vectors: DataFrame,
    model_dir: str,
    checkpoint: str,
    vec_col: str = "embedding",
    pointer: str = "_CURRENT",
    app_id: str | None = None,
    round_digits: int = 6,
):
    """Online (mini-batch) k-means model maintenance — Sculley's web-scale
    k-means as a stream: each micro-batch assigns its vectors to the
    nearest STORED centroid and moves every touched centroid to the
    count-weighted running mean ``(n·c + Σx) / (n + m)``; untouched cells
    keep their state.  The model (k × D + counts) lives in a JSON
    generation file beside the data with the pointer flipped LAST, the
    same copy-on-write discipline as :func:`apply_cdc_stream` — and the
    same namespacing: generations are ``model-<app>-<batch_id>.json``.
    Unlike the CDC merge, a centroid update is NOT idempotent (re-applying
    double-counts the batch), so production restarts MUST pin a stable
    ``app_id`` to get the skip-on-replay guard; the default per-call nonce
    is exactly-once only within one run.

    Scale shape per batch: one codegen'd literal-centroid argmin
    projection + one map-side-combined (cell, dim) aggregate → k × D rows
    to the driver; the batch never shuffles on anything wider.  NULL and
    wrong-dimension vectors are excluded (the kmeans_refine contract)."""
    import json
    import uuid

    from fineo_readerator_spark.llm_ops.dedup import _fs_write_text
    from fineo_readerator_spark.llm_ops.similarity import seeded_cell_expr

    spark = vectors.sparkSession
    run = app_id or uuid.uuid4().hex[:12]

    def _apply(batch: DataFrame, batch_id: int) -> None:
        cur = _read_pointer(spark, f"{model_dir}/{pointer}")
        gen = f"model-{run}-{batch_id}.json"
        if cur == gen:
            return  # replay after pointer flip (stable app_id): fully applied
        state = read_kmeans_model(spark, model_dir, pointer)
        cents = [(cid, v) for cid, _, v in state]
        dim = len(cents[0][1])
        rows = (
            batch.filter(F.col(vec_col).isNotNull())
            .filter(F.size(F.col(vec_col)) == dim)
            .withColumn("__cell", seeded_cell_expr(vec_col, cents))
            .select("__cell", F.posexplode(F.col(vec_col)).alias("__i", "__v"))
            .groupBy("__cell", "__i")
            .agg(
                F.sum(F.col("__v").cast("double")).alias("__s"),
                F.count("*").alias("__m"),
            )
            .collect()
        )
        upd: dict[int, dict[int, tuple[float, int]]] = {}
        for r in rows:
            upd.setdefault(int(r["__cell"]), {})[int(r["__i"])] = (
                float(r["__s"]),
                int(r["__m"]),
            )
        cells = []
        for cid, n, v in state:
            if cid in upd:
                m = upd[cid][0][1]
                v = [
                    round((n * v[i] + upd[cid][i][0]) / (n + m), round_digits)
                    for i in range(dim)
                ]
                n = n + m
            cells.append([cid, n, v])
        _fs_write_text(spark, f"{model_dir}/{gen}", json.dumps({"cells": cells}))
        _fs_write_text(spark, f"{model_dir}/{pointer}", gen)

    return (
        vectors.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_cdc_snapshot(
    spark: SparkSession, snapshot_dir: str, pointer: str = "_CURRENT"
) -> DataFrame:
    """The current snapshot generation (follows the pointer)."""
    return spark.read.parquet(f"{snapshot_dir}/{_read_pointer(spark, f'{snapshot_dir}/{pointer}')}")
