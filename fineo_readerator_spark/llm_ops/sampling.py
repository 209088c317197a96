"""Deterministic sampling and frequency operators for corpus curation.

A 100 TB pipeline needs REPRODUCIBLE sampling: `df.sample()` draws from a
per-partition RNG, so the kept set changes with partitioning, retries and
cluster size.  These operators key every decision on a portable content hash
(md5 of the row key), which makes the sample (a) stable under repartitioning
and speculative re-execution, (b) identical across engines — the DuckDB
oracle replays it exactly — and (c) cheap: one codegen'd projection, no
shuffle, filters push to the scan.

`topk_frequent` / `ngram_topk` are the exact heavy-hitter shapes: map-side
partial counts → one shuffle on the item key → per-group top-k via window or
global top-k via TakeOrdered (per-partition heaps, no full sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fineo_readerator_spark.llm_ops.dedup import _spread, shingles
from fineo_readerator_spark.llm_ops.textstats import tokens

_BUCKETS = 1_000_000


def _bucket(key: Column, seed: int) -> Column:
    """Deterministic bucket in [0, 1e6): portable 60-bit md5 hash of
    ``seed|key`` — same leaf as the portable dedup path, replayable in SQL."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}|"), key.cast("string"))), 1, 15), 16, 10)
    return F.pmod(h.cast("long"), F.lit(_BUCKETS))


def hash_sample(df: DataFrame, key_col: str, fraction: float, seed: int = 42) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows, decided per row by hash
    bucket — reproducible regardless of partitioning or engine."""
    return df.filter(_bucket(F.col(key_col), seed) < int(fraction * _BUCKETS))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant languages,
    keep the tail): rows in strata absent from ``fractions`` are dropped.
    One codegen'd CASE over the hash bucket — no shuffle, no RNG."""
    thresholds = F.create_map(
        *[x for s, frac in sorted(fractions.items()) for x in (F.lit(s), F.lit(int(frac * _BUCKETS)))]
    )
    thr = F.coalesce(thresholds[F.col(strata_col)], F.lit(0))
    return df.filter(_bucket(F.col(key_col), seed) < thr)


def sample_oracle_bucket(key_expr: str, seed: int = 42) -> str:
    """DuckDB expression replaying ``_bucket(key)`` bit-for-bit."""
    md5 = f"md5(concat('{seed}|', CAST({key_expr} AS VARCHAR)))"
    parse = (
        "list_sum(list_transform(generate_series(1, 15),"
        f" i -> (strpos('0123456789abcdef', substr({md5}, CAST(i AS INT), 1)) - 1)::BIGINT"
        " * (1::BIGINT << (4 * (15 - i)))))"
    )
    return f"({parse} % {_BUCKETS})"


def sample_oracle_predicate(key_expr: str, threshold: int, seed: int = 42) -> str:
    """DuckDB predicate replaying ``_bucket(key) < threshold``."""
    return f"{sample_oracle_bucket(key_expr, seed)} < {threshold}"


def stratified_fixed_k(
    df: DataFrame, strata_cols: list[str], key_col: str, k: int, seed: int = 42
) -> DataFrame:
    """EXACTLY ``k`` rows per stratum (eval-set carving), chosen by ranking a
    content hash — deterministic across partitionings, retries and engines
    (unlike fraction sampling, which can't hit an exact count).

    Shape: one shuffle keyed on the strata (window rank).  Skew-safety comes
    from Spark's ``WindowGroupLimit`` rewrite of rank-filter windows: a
    map-side partial top-k runs BEFORE the exchange (pinned by
    ``tests/test_llm_ops.py::test_stratified_k_partial_topk_before_shuffle``),
    so a pathological single-stratum corpus shuffles at most k rows per map
    partition — k x #partitions rows into the reducer, never |stratum|.
    Appends ``sample_rank`` (1..k)."""
    w = Window.partitionBy(*strata_cols).orderBy(_bucket(F.col(key_col), seed), key_col)
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def weighted_stratified_k(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """EXACTLY ``k`` rows per stratum sampled WITHOUT replacement with
    probability proportional to ``weight_col`` — Efraimidis–Spirakis A-ES:
    each row gets key ``u^(1/w)`` (equivalently ``ln(u)/w``, used here for
    numeric range) with ``u`` the deterministic md5 uniform, and the top-k
    keys per stratum win.  The quality-weighted carve a training pipeline
    uses where uniform ``stratified_fixed_k`` would over-sample junk:
    weight by quality score, length, or dedup cluster size.

    Determinism: ``u = (bucket + 0.5) / 1e6`` is integer-derived (identical
    IEEE doubles on every engine); keys round at 1e-12 before ranking with
    the row key as tie-break, so libm ulp differences can't flip the
    selection.  Rows with NULL or non-positive weight are EXCLUDED (A-ES is
    undefined there; silently keeping them would give them infinite/NaN
    keys).

    Scale shape: identical to ``stratified_fixed_k`` — the key is a
    codegen'd projection and the per-stratum top-k compiles to
    WindowGroupLimit, so each map partition ships at most k rows per
    stratum into the single exchange.  Appends ``sample_rank`` (1..k)."""
    u = (_bucket(F.col(key_col), seed).cast("double") + F.lit(0.5)) / F.lit(
        float(_BUCKETS)
    )
    es_key = F.round(F.log(u) / F.col(weight_col).cast("double"), 12)
    w = Window.partitionBy(*strata_cols).orderBy(F.desc("__es_key"), key_col)
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__es_key", es_key)
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
        .drop("__es_key")
    )


def weighted_k_oracle_key(key_expr: str, weight_expr: str, seed: int = 42) -> str:
    """DuckDB expression replaying the A-ES key ``round(ln(u)/w, 12)``."""
    return (
        f"round(ln(({sample_oracle_bucket(key_expr, seed)} + 0.5) / {float(_BUCKETS)!r})"
        f" / CAST({weight_expr} AS DOUBLE), 12)"
    )


def distribution_match_sample(
    df: DataFrame,
    target: DataFrame,
    bucket_col: str,
    key_col: str,
    seed: int = 42,
) -> DataFrame:
    """Importance-sample the corpus toward a target frame's ``bucket_col``
    distribution (match the eval set's length/language profile, rebalance
    toward a reference mix): each row keeps with probability
    ``min(1, target_share / corpus_share)`` of its bucket, decided by the
    portable md5 hash — deterministic under repartitioning, retries and
    engines.  Buckets absent from the target drop entirely.

    The keep rule is NOT renormalized by the max ratio, so buckets whose
    target share exceeds their corpus share keep everything (can't mint
    rows) and stay under-represented relative to the target; the output
    mix equals the target exactly only when every bucket's target share
    is <= its corpus share, and otherwise approaches it (maximum yield at
    approximate matching — dividing all rates by the max ratio would give
    exact matching at proportionally lower yield).

    The keep rule is ONE integer inequality — no float division anywhere:
    ``hash_bucket · c_n · t_total < t_n · c_total · B`` (exact decimal
    products on both engines), so there is no rounding boundary for
    cross-engine drift to hide in.

    Scale shape: two map-side-combined bucket counts + two single-row
    totals; the bucket→count table is bucket-cardinality-sized and
    broadcast back onto the corpus; the filter is a codegen'd row-local
    predicate.  The corpus is scanned twice (count pass, filter pass) —
    the quality_resample trade: cheaper than materializing a corpus-sized
    annotated frame.  The count frames are lineage-cut before feeding
    totals AND rates (the multi-consumer rule — without it Catalyst
    re-evaluates each count subtree, re-scanning both inputs)."""
    dec = "decimal(38,0)"
    bc = F.col(bucket_col)
    c = (
        df.groupBy(bc.alias("__mb"))
        .agg(F.count(F.lit(1)).alias("__cn"))
        .localCheckpoint(eager=False)
    )
    t = (
        target.groupBy(bc.alias("__tb"))
        .agg(F.count(F.lit(1)).alias("__tn"))
        .localCheckpoint(eager=False)
    )
    totals = (
        c.agg(F.sum("__cn").alias("__ct"))
        .crossJoin(t.agg(F.coalesce(F.sum("__tn"), F.lit(0)).alias("__tt")))
    )
    rates = (
        # null-safe: a NULL bucket in the target must still rate-match the
        # corpus's NULL bucket, exactly as the oracle's IS NOT DISTINCT FROM
        c.join(t, F.col("__mb").eqNullSafe(F.col("__tb")), "left")
        .select("__mb", "__cn", F.coalesce("__tn", F.lit(0)).alias("__tn"))
        .crossJoin(F.broadcast(totals))
    )
    joined = df.join(F.broadcast(rates), bc.eqNullSafe(F.col("__mb")), "inner")
    keep = (
        _bucket(F.col(key_col), seed).cast(dec) * F.col("__cn").cast(dec) * F.col("__tt").cast(dec)
        < F.col("__tn").cast(dec) * F.col("__ct").cast(dec) * F.lit(_BUCKETS).cast(dec)
    )
    return joined.filter(keep).drop("__mb", "__cn", "__tn", "__ct", "__tt")


def distribution_match_oracle_predicate(
    bucket_expr: str,
    key_expr: str,
    cn: str,
    tn: str,
    ct: str,
    tt: str,
    seed: int = 42,
) -> str:
    """DuckDB predicate replaying the integer keep rule (HUGEINT products)."""
    b = sample_oracle_bucket(key_expr, seed)
    return (
        f"CAST({b} AS HUGEINT) * CAST({cn} AS HUGEINT) * CAST({tt} AS HUGEINT)"
        f" < CAST({tn} AS HUGEINT) * CAST({ct} AS HUGEINT) * {_BUCKETS}"
    )


def k_anonymize(df: DataFrame, quasi_cols: list[str], k: int = 5) -> DataFrame:
    """k-anonymity suppression: drop every row whose QUASI-IDENTIFIER
    combination occurs fewer than ``k`` times — the release gate that keeps
    a published corpus from exposing individuals through rare attribute
    combinations (lang × source × ... singling someone out).  Appends
    ``qi_group_n`` (the surviving row's group size) so downstream audits
    can verify the floor.  NULL attribute values form REAL groups (they
    can single out too), hence the null-safe join.

    Scale shape: one map-side-combined group count (quasi-cardinality
    rows), null-safe-joined back — AQE broadcasts the count side when
    small.  Deliberately NOT a count window over the raw rows: a window
    needs every group's rows on one reducer (no partial aggregation), so a
    dominant group would drown at scale where the groupBy's map-side
    combine doesn't."""
    counts = (
        df.groupBy(*[F.col(c).alias(f"__q_{c}") for c in quasi_cols])
        .agg(F.count(F.lit(1)).alias("qi_group_n"))
        .filter(F.col("qi_group_n") >= k)
    )
    cond = None
    for c in quasi_cols:
        this = df[c].eqNullSafe(counts[f"__q_{c}"])
        cond = this if cond is None else cond & this
    return df.join(counts, cond, "inner").drop(*[f"__q_{c}" for c in quasi_cols])


def k_anonymize_oracle_sql(
    corpus_sql: str, quasi_cols: list[str], out_cols: list[str], k: int = 5
) -> str:
    """DuckDB replay of :func:`k_anonymize` (same null-safe grouping)."""
    qs = ", ".join(quasi_cols)
    on = " AND ".join(f"d.{c} IS NOT DISTINCT FROM g.{c}" for c in quasi_cols)
    cols = ", ".join(f"d.{c}" for c in out_cols)
    return f"""
SELECT {cols}, g.qi_group_n
FROM ({corpus_sql}) d
JOIN (SELECT {qs}, count(*) AS qi_group_n FROM ({corpus_sql}) GROUP BY {qs}) g
  ON {on}
WHERE g.qi_group_n >= {k}
"""


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    part_cols: list[str],
) -> DataFrame:
    """Streaming-fill sequence packing: walk each partition's documents in
    ``id_col`` order and assign ``bin_id`` = (running token count before this
    doc) div ``budget``.  Documents are never split; a bin may overflow by at
    most one document — the standard greedy fill used to batch variable-length
    documents into fixed token-budget training sequences.

    The running sum is a window over ``part_cols`` — the packing parallelizes
    across shards (source, date, ...) exactly as a training pipeline shards
    its corpus; there is no global sequential dependency.  Integer ``div``
    keeps bin boundaries exact (no float rounding at multiples of the
    budget)."""
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum(token_col).over(w), F.lit(0).cast("long"))
    # exact integer bin boundary: subtract the remainder before dividing, so
    # the division is always by-an-exact-multiple (no float-floor edge cases)
    bin_id = ((prev - F.pmod(prev, F.lit(budget))) / F.lit(budget)).cast("long")
    return df.withColumn("bin_id", bin_id)


def shard_for_training(
    df: DataFrame, key_col: str, n_shards: int, seed: int = 42
) -> DataFrame:
    """Deterministic training-export sharding: every row gets a ``shard`` in
    ``[0, n_shards)`` from its content-hash bucket and a ``shard_pos`` (its
    key-ordered position within the shard) — the reproducible write layout a
    training pipeline needs so that re-running the export (or re-reading it
    elsewhere) yields byte-identical shard files.

    Scale shape: the hash assignment is a codegen'd projection (no shuffle);
    the position window shuffles once on ``shard`` — the SAME exchange a
    ``repartition(n_shards, "shard").sortWithinPartitions(key)`` writer
    needs anyway, so Catalyst reuses it and sharding adds no extra pass.
    Hash sharding also balances skew: shard sizes differ by O(√(N/shards)),
    unlike range sharding on a skewed key."""
    shard = F.pmod(_bucket(F.col(key_col), seed), F.lit(n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy(key_col)
    return (
        df.withColumn("shard", shard)
        .withColumn("shard_pos", F.row_number().over(w).cast("long"))
    )


def shard_oracle_exprs(key_expr: str, n_shards: int, seed: int = 42) -> tuple[str, str]:
    """DuckDB (shard, shard_pos) expressions replaying ``shard_for_training``."""
    shard = f"CAST(({sample_oracle_bucket(key_expr, seed)} % {n_shards}) AS INT)"
    pos = f"CAST(row_number() OVER (PARTITION BY {shard} ORDER BY {key_expr}) AS BIGINT)"
    return shard, pos


def write_training_shards(
    df: DataFrame, key_col: str, n_shards: int, path: str, seed: int = 42
) -> None:
    """Materialize the deterministic shard layout on disk: one directory per
    shard (`shard=K/`), rows key-sorted within each shard file — the write
    half of ``shard_for_training``'s manifest, so re-running the export (on
    any cluster size or partitioning) reproduces identical shard contents.

    One exchange total: ``repartition(n_shards, shard)`` is the same
    partitioning the ``shard_pos`` window needs, so Catalyst computes the
    positions inside the write partitioning; ``sortWithinPartitions`` orders
    rows without a second shuffle.  Each shard directory gets exactly one
    ordered parquet file per write task."""
    manifest = shard_for_training(df, key_col, n_shards, seed)
    (
        manifest.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", key_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def write_jsonl_shards(
    df: DataFrame, key_col: str, n_shards: int, path: str, seed: int = 42
) -> None:
    """JSONL variant of :func:`write_training_shards` — the interchange
    format most LLM training loaders consume (one JSON object per line,
    one gzip'd file per shard directory).  Same deterministic layout
    contract: content-hash shard assignment, key-sorted rows within each
    shard, ONE exchange total (the shard repartition is the partitioning
    the sort-within needs), so re-running the export reproduces
    byte-identical shard files on any cluster size.

    Serialization is ``to_json(struct(*))`` — JVM-side, codegen'd, field
    order fixed by the schema — so the lines are deterministic too."""
    cols = df.columns
    manifest = shard_for_training(df, key_col, n_shards, seed)
    (
        manifest.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", key_col)
        .select(
            F.col("shard"),
            F.to_json(F.struct(*[F.col(c) for c in cols])).alias("value"),
        )
        .write.mode("overwrite")
        .partitionBy("shard")
        .option("compression", "gzip")
        .text(path)
    )


def domain_mix(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    weights: dict[str, float],
    total: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic domain reweighting: downsample each stratum toward a
    target mixture (``weights`` sum to 1, ``total`` = target corpus size).

    Per-stratum keep fraction = min(1, total·w_s / n_s); membership decided
    by the portable content-hash bucket, so the kept set is identical under
    repartitioning, retries and engines.  The per-stratum counts are a tiny
    aggregate joined back as a BROADCAST — the corpus itself is scanned once
    and filtered map-side, never shuffled."""
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    wmap = F.create_map(
        *[x for s, wt in sorted(weights.items()) for x in (F.lit(s), F.lit(float(wt)))]
    )
    frac = F.least(F.lit(1.0), F.coalesce(wmap[F.col(strata_col)], F.lit(0.0)) * total / F.col("__n"))
    thr = F.floor(frac * _BUCKETS).cast("long")
    return (
        df.join(F.broadcast(counts), strata_col)
        .filter(_bucket(F.col(key_col), seed) < thr)
        .drop("__n")
    )


def domain_mix_oracle_predicate(
    strata_expr: str, key_expr: str, weights: dict[str, float], total: int, seed: int = 42
) -> str:
    """DuckDB WHERE fragment replaying ``domain_mix`` given a ``__n`` column
    carrying the stratum count (window count in the caller's CTE)."""
    arms = " ".join(f"WHEN '{s}' THEN {float(wt)!r}" for s, wt in sorted(weights.items()))
    frac = f"least(1.0, (CASE {strata_expr} {arms} ELSE 0.0 END) * {total} / __n)"
    return f"{sample_oracle_bucket(key_expr, seed)} < CAST(floor({frac} * {_BUCKETS}) AS BIGINT)"


def temperature_weights(
    df: DataFrame,
    strata_col: str,
    alpha: float = 0.5,
    target_total: int = 10_000,
) -> DataFrame:
    """Temperature-scaled sampling weights per stratum — ``w_s ∝ n_s^α``
    (the multilingual-pretraining mixture rule: α=1 keeps the natural
    distribution, α→0 flattens toward uniform, mT5/XLM-R ship α≈0.3-0.7).
    This COMPUTES the target mixture that :func:`domain_mix` then
    enforces: feed ``weight`` straight into its ``weights`` dict.

    Output per stratum: (strata, n_docs, weight, target_docs) with
    ``target_docs = round(weight · target_total)``.

    Scale/determinism: one stratum-count aggregate (corpus scanned once,
    map-side combined), then arithmetic on the strata-sized frame — the
    normalizer joins back as a broadcast one-row frame.  α=0.5 (the
    default) evaluates as ``sqrt`` — IEEE-correctly-rounded, so
    bit-identical across engines; other α go through ``pow`` under the
    1e-12-round-then-decimal-sum contract."""
    cnt = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_docs"))
    n_d = F.col("n_docs").cast("double")
    raw = F.sqrt(n_d) if alpha == 0.5 else F.pow(n_d, F.lit(float(alpha)))
    t = cnt.withColumn("__t", F.round(raw, 12))
    tot = t.agg(
        F.sum(F.col("__t").cast("decimal(38,12)")).cast("double").alias("__s")
    )
    return (
        t.crossJoin(F.broadcast(tot))
        .select(
            strata_col,
            "n_docs",
            F.round(F.col("__t") / F.col("__s"), 6).alias("weight"),
            F.round(F.round(F.col("__t") / F.col("__s"), 6) * target_total, 0)
            .cast("long")
            .alias("target_docs"),
        )
        .orderBy(strata_col)
    )


def temperature_weights_oracle_sql(
    source_sql: str, strata_col: str, alpha: float = 0.5, target_total: int = 10_000
) -> str:
    """DuckDB replay of :func:`temperature_weights` (same sqrt/pow leaf,
    1e-12 rounding, decimal normalizer sum)."""
    raw = (
        "sqrt(CAST(n_docs AS DOUBLE))"
        if alpha == 0.5
        else f"pow(CAST(n_docs AS DOUBLE), CAST({float(alpha)!r} AS DOUBLE))"
    )
    return f"""WITH c AS (SELECT {strata_col}, count(*) AS n_docs FROM ({source_sql}) GROUP BY 1),
t AS (SELECT {strata_col}, n_docs, round({raw}, 12) AS t FROM c),
tot AS (SELECT CAST(sum(CAST(t AS DECIMAL(38,12))) AS DOUBLE) AS s FROM t)
SELECT {strata_col}, n_docs, round(t / (SELECT s FROM tot), 6) AS weight,
       CAST(round(round(t / (SELECT s FROM tot), 6) * {target_total}, 0) AS BIGINT) AS target_docs
FROM t ORDER BY {strata_col} NULLS FIRST"""


def curriculum_schedule(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    interleave_col: str = "source",
    n_shards: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Curriculum training order: assign each doc a shard, then an
    easy-first, source-interleaved position within it — the reproducible
    "which example does the model see 17th in shard 3" manifest
    curriculum-learning recipes need (easy→hard ordering, no source
    clumping: round-robin across sources by per-source rank).

    Output: (id, interleave, shard, src_rank, pos).  ``src_rank`` is the
    doc's 1-based rank within (shard, source) by score DESC (highest
    score = easiest = first); ``pos`` round-robins those ranks across
    sources, so shard playback order is rank-1 of every source, then
    rank-2, ...

    Scale shape: shard assignment is a codegen'd hash projection; ONE
    exchange on ``shard`` serves both windows (the (shard, source) window
    is satisfied by shard-clustering — Spark's ClusteredDistribution
    subset rule) AND the per-shard writer.  Ordering is GLOBAL only
    within a shard — there is deliberately no corpus-wide total sort (a
    single-partition window at 100 TB); shards are the training-consumer
    parallelism unit.

    Determinism: hash-bucket shard (retry-stable), total tie-breaks
    (score DESC, id) and (src_rank, source, id) — the manifest is
    byte-reproducible and oracle-checked."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    assigned = df.withColumn(
        "shard", F.pmod(_bucket(F.col(id_col), seed), F.lit(n_shards)).cast("int")
    ).repartition("shard")
    w_src = Window.partitionBy("shard", interleave_col).orderBy(
        F.desc(score_col), id_col
    )
    ranked = assigned.withColumn(
        "src_rank", F.row_number().over(w_src).cast("long")
    )
    w_pos = Window.partitionBy("shard").orderBy(
        "src_rank", F.asc_nulls_first(interleave_col), id_col
    )
    return ranked.withColumn(
        "pos", F.row_number().over(w_pos).cast("long")
    ).select(id_col, interleave_col, "shard", "src_rank", "pos")


def curriculum_oracle_sql(
    source_sql: str,
    score_expr: str,
    id_col: str = "doc_id",
    interleave_col: str = "source",
    n_shards: int = 8,
    seed: int = 42,
) -> str:
    """DuckDB replay of :func:`curriculum_schedule` — same hash shard,
    same two-window rank walk, NULL sources pinned first to match Spark's
    ascending NULLS FIRST."""
    shard = f"CAST(({sample_oracle_bucket(id_col, seed)} % {n_shards}) AS INT)"
    return f"""WITH s AS (SELECT {id_col}, {interleave_col}, {score_expr} AS q, {shard} AS shard
           FROM ({source_sql})),
r AS (SELECT *, row_number() OVER (PARTITION BY shard, {interleave_col}
                                   ORDER BY q DESC, {id_col}) AS src_rank FROM s)
SELECT {id_col}, {interleave_col}, shard,
       CAST(src_rank AS BIGINT) AS src_rank,
       CAST(row_number() OVER (PARTITION BY shard
            ORDER BY src_rank, {interleave_col} NULLS FIRST, {id_col}) AS BIGINT) AS pos
FROM r
ORDER BY shard, pos"""


def topk_frequent(
    df: DataFrame, group_cols: list[str], item_col: str, k: int
) -> DataFrame:
    """Exact top-k most frequent ``item_col`` values per group.

    Shape: partial-aggregated count (one shuffle keyed on group+item), then a
    window rank over the much smaller (group, item, cnt) set.  Ties break on
    the item value so results are deterministic across engines."""
    counts = df.groupBy(*group_cols, item_col).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy(*group_cols).orderBy(F.desc("cnt"), item_col)
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*group_cols, item_col, "cnt", "rank")
    )


def ngram_topk(df: DataFrame, text_col: str, n: int = 3, k: int = 20) -> DataFrame:
    """Global top-k word n-grams with counts (corpus vocabulary statistics).

    explode → count (map-side combine keeps the shuffle at |distinct ngrams|)
    → TakeOrderedAndProject for the top-k (per-partition heaps, no global
    sort).  Deterministic tie-break on the ngram string."""
    grams = _spread(df.select(text_col)).select(F.explode(shingles(F.col(text_col), n)).alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "ngram")
        .limit(k)
    )


def ngram_diversity(
    df: DataFrame, text_col: str = "text", group_col: str = "lang", n: int = 2
) -> DataFrame:
    """Per-group n-gram type–token ratio (distinct/total word n-grams) —
    the diversity signal that collapses when templated or model-generated
    text floods a corpus slice (self-BLEU's cheap relational cousin, the
    slice-level screen run before any expensive generation detector).
    Documents shorter than ``n`` tokens contribute nothing; NULL group is
    its own group (groupBy keeps it).

    Determinism: ``ttr`` is ONE division of two exact longs — identical
    IEEE doubles on both engines — rounded at 1e-6.

    Scale shape: tokenize+window is a codegen'd projection; ONE
    (group, ngram) hash agg (map-side combined, shuffle =
    |distinct n-grams|) then a group-cardinality agg.  Output
    ``(group, total_ngrams, distinct_ngrams, ttr)`` ordered by group."""
    toks = tokens(F.col(text_col))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = df.select(F.col(group_col).alias("__grp"), F.explode(grams).alias("__g"))
    counts = exploded.groupBy("__grp", "__g").agg(F.count(F.lit(1)).alias("__c"))
    return (
        counts.groupBy("__grp")
        .agg(
            F.sum("__c").cast("long").alias("total_ngrams"),
            F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
        )
        .withColumn(
            "ttr", F.round(F.col("distinct_ngrams") / F.col("total_ngrams"), 6)
        )
        .select(F.col("__grp").alias(group_col), "total_ngrams", "distinct_ngrams", "ttr")
        .orderBy(group_col)
    )


def ngram_diversity_oracle_sql(
    corpus_sql: str, text_col: str = "text", group_col: str = "lang", n: int = 2
) -> str:
    """DuckDB replay of :func:`ngram_diversity`: identical windows, counts
    and the single exact-long division."""
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'), x -> length(x) > 0)"
    return f"""
WITH __t AS (SELECT {group_col} AS grp, {toks} AS toks FROM ({corpus_sql})),
__g AS (
  SELECT grp, array_to_string(toks[i:i + {n - 1}], ' ') AS g
  FROM __t, unnest(generate_series(1, len(toks) - {n - 1})) u(i)
  WHERE len(toks) >= {n}
),
__c AS (SELECT grp, g, count(*) AS c FROM __g GROUP BY 1, 2)
SELECT grp AS {group_col}, CAST(sum(c) AS BIGINT) AS total_ngrams,
       CAST(count(*) AS BIGINT) AS distinct_ngrams,
       round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS ttr
FROM __c GROUP BY grp ORDER BY grp
"""


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    fractions: tuple = (0.8, 0.1, 0.1),
    seed: int = 42,
) -> DataFrame:
    """Append a deterministic ``split`` column ('train'/'val'/'test') from
    the row key's hash bucket — the content-addressed 3-way carve every
    training pipeline needs.  Hash membership (not ``randomSplit``) makes
    the assignment stable under repartitioning, retries, incremental
    appends (a doc keeps its split when the corpus grows) and across
    engines — the oracle replays it exactly.  Row-local projection: no
    shuffle, no state."""
    if len(fractions) != 3 or abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError(f"fractions must be 3 values summing to 1, got {fractions}")
    b = _bucket(F.col(key_col), seed)
    t1 = int(fractions[0] * 1_000_000)
    t2 = t1 + int(fractions[1] * 1_000_000)
    split = (
        F.when(b < t1, F.lit("train")).when(b < t2, F.lit("val")).otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    fractions: tuple = (0.8, 0.1, 0.1),
    seed: int = 42,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    minhash_seed: int = 42,
) -> DataFrame:
    """Train/val/test split keyed on the near-duplicate CLUSTER id, not the
    row id: every member of a MinHash dup cluster (exact twins included)
    lands on the SAME side, so the eval split can never be contaminated by
    a near-duplicate of a training document — the leakage mode a row-hash
    split (:func:`train_val_test_split`) cannot prevent, and a documented
    source of inflated eval numbers in LLM training pipelines.

    Composition, not new machinery: the cluster map comes from the shared
    dedup cascade (:func:`~fineo_readerator_spark.llm_ops.dedup.
    minhash_cluster_labels` — any cascade change lands here too), and the
    side assignment is the same portable hash bucket every sampler uses,
    applied to ``cluster_id`` — so the split stays deterministic under
    repartitioning, retries and incremental appends, and singleton docs
    (their own cluster) split exactly like :func:`train_val_test_split`
    keyed on the representative id.  Scale = the cluster map's cost (banded
    candidate join) plus one label join; the split itself is row-local.
    Output: input columns + ``cluster_id`` + ``split``."""
    from fineo_readerator_spark.llm_ops.dedup import minhash_cluster_labels

    # validate BEFORE the cluster build so a bad fractions tuple fails fast
    if len(fractions) != 3 or abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError(f"fractions must be 3 values summing to 1, got {fractions}")
    labels = minhash_cluster_labels(
        df, id_col, text_col, num_hashes, bands, shingle_k, threshold, minhash_seed
    )
    return train_val_test_split(df.join(labels, id_col), "cluster_id", fractions, seed)


def split_oracle_expr(key_expr: str, fractions: tuple = (0.8, 0.1, 0.1), seed: int = 42) -> str:
    t1 = int(fractions[0] * 1_000_000)
    t2 = t1 + int(fractions[1] * 1_000_000)
    b = sample_oracle_bucket(key_expr, seed)
    return (
        f"CASE WHEN {b} < {t1} THEN 'train' WHEN {b} < {t2} THEN 'val' "
        f"ELSE 'test' END"
    )


def categorical_drift(
    df_a: DataFrame, df_b: DataFrame, col: str, k: float = 0.5
) -> DataFrame:
    """Population Stability Index between two corpus snapshots over a
    categorical column — the standard drift monitor a training-data
    pipeline runs between ingest generations (PSI < 0.1 stable, > 0.25
    shifted).  Returns one row per category:
    ``(category, share_a, share_b, psi_term)`` with the column PSI being
    ``sum(psi_term)``.

    Add-k smoothing over the UNION of categories keeps one-sided
    categories finite: ``p = (c + k) / (N + k·C)`` with ``C`` the distinct
    category count across both sides — so the same category set (and the
    same smoothing denominator) is used for both snapshots.

    Scale shape: two map-side-combined counts (category cardinality rows
    each), one category-sized outer join — nothing corpus-sized shuffles;
    the corpus is scanned once per side.  Determinism: counts are exact
    integers; shares/psi round to 6 decimals."""
    from pyspark.sql import functions as F

    ca = df_a.groupBy(F.col(col).alias("cat_a")).agg(F.count("*").alias("__ca"))
    cb = df_b.groupBy(F.col(col).alias("cat_b")).agg(F.count("*").alias("__cb"))
    # null-SAFE join key: a NULL category is a real bucket (missing values
    # drifting IS drift); a plain equi-join would split it into two
    # spurious one-sided rows, inflating both PSI and the category count
    # lineage cut: `joined` feeds BOTH the totals aggregate and the final
    # select — without it Catalyst re-evaluates the whole subtree and each
    # corpus side is scanned twice per query (windowed_drift's fix, here)
    joined = (
        ca.join(cb, ca["cat_a"].eqNullSafe(cb["cat_b"]), "full_outer")
        .select(
            F.coalesce("cat_a", "cat_b").alias("category"),
            F.coalesce("__ca", F.lit(0)).alias("__ca"),
            F.coalesce("__cb", F.lit(0)).alias("__cb"),
        )
        .localCheckpoint(eager=False)
    )
    tot = joined.agg(
        F.sum("__ca").alias("__na"),
        F.sum("__cb").alias("__nb"),
        F.count("*").alias("__c"),
    )
    pa = (F.col("__ca") + k) / (F.col("__na") + k * F.col("__c"))
    pb = (F.col("__cb") + k) / (F.col("__nb") + k * F.col("__c"))
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "category",
            F.round(pa, 6).alias("share_a"),
            F.round(pb, 6).alias("share_b"),
            F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
        )
        .orderBy("category")
    )


def quality_resample(
    df: DataFrame,
    score_col: str,
    key_col: str,
    fractions: dict[str, float] | None = None,
    width: float = 0.02,
    lo: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """CCNet-style quality resampling: split the corpus into head / middle /
    tail by the SCORE TERCILES (p33/p66 from the mergeable fixed-bin
    histogram sketch — no global sort), then keep a deterministic per-bucket
    fraction (default 1.0 / 0.5 / 0.1 — keep the best, thin the middle,
    mostly drop the tail).  The standard quality-aware mixing step between
    scoring and export.

    Deliberately TWO corpus passes, zero materialization: pass 1 reduces to
    the bin-count sketch (occupied-bins rows shuffle, nothing else), pass 2
    re-reads the corpus and applies bucket + hash-sample as one codegen'd
    filter with the two thresholds broadcast from the sketch.  At 100 TB
    that beats checkpointing a corpus-sized scored frame; if the caller
    already persists scores, both passes read the persisted table.

    Determinism: thresholds are sketch-derived (integer comparisons on
    exact counts), membership is the portable md5 hash bucket — stable
    under repartitioning, retries and engines."""
    from fineo_readerator_spark.llm_ops.sketches import histogram_quantiles

    fractions = fractions or {"head": 1.0, "middle": 0.5, "tail": 0.1}
    if set(fractions) != {"head", "middle", "tail"}:
        raise ValueError("fractions must cover exactly head/middle/tail")
    qt = histogram_quantiles(df, score_col, width, quantiles=(1 / 3, 2 / 3), lo=lo)
    th = qt.agg(
        F.max(F.when(F.col("q") == F.lit(1 / 3), F.col("est"))).alias("__t33"),
        F.max(F.when(F.col("q") == F.lit(2 / 3), F.col("est"))).alias("__t66"),
    )
    s = F.col(score_col).cast("double")
    bucket = (
        F.when(s >= F.col("__t66"), F.lit("head"))
        .when(s >= F.col("__t33"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    bucketed = df.crossJoin(F.broadcast(th)).withColumn("bucket", bucket)
    return stratified_sample(bucketed, "bucket", fractions, key_col, seed).drop(
        "__t33", "__t66"
    )


def quality_resample_oracle_sql(
    source_sql: str,
    score_expr: str,
    key_expr: str,
    fractions: dict[str, float] | None = None,
    width: float = 0.02,
    lo: float = 0.0,
    seed: int = 42,
    extra_cols: str = "",
) -> str:
    """DuckDB replay of :func:`quality_resample` over ``source_sql`` (must
    yield ``key_expr`` and the score's input columns).  ``extra_cols``:
    leading projection of pass-through columns (e.g. ``"doc_id, "``)."""
    from fineo_readerator_spark.llm_ops.sketches import histogram_quantiles_oracle_sql

    fractions = fractions or {"head": 1.0, "middle": 0.5, "tail": 0.1}
    hq = histogram_quantiles_oracle_sql(
        source_sql, score_expr, width, quantiles=(1 / 3, 2 / 3), lo=lo
    )
    thr = {k: int(v * _BUCKETS) for k, v in fractions.items()}
    b = sample_oracle_bucket(key_expr, seed)
    return f"""
WITH __th AS (
  SELECT max(CASE WHEN q = {1 / 3!r} THEN est END) AS t33,
         max(CASE WHEN q = {2 / 3!r} THEN est END) AS t66
  FROM ({hq})
)
SELECT {extra_cols}bucket FROM (
  SELECT {extra_cols}
         CASE WHEN CAST({score_expr} AS DOUBLE) >= t66 THEN 'head'
              WHEN CAST({score_expr} AS DOUBLE) >= t33 THEN 'middle'
              ELSE 'tail' END AS bucket,
         {b} AS hb
  FROM ({source_sql}) CROSS JOIN __th
)
WHERE hb < CASE bucket WHEN 'head' THEN {thr['head']}
                       WHEN 'middle' THEN {thr['middle']}
                       ELSE {thr['tail']} END
"""


def ks_statistic(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    bin_width: float = 1.0,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the ``value_col``
    distributions of two groups — the continuous-distribution drift test
    beside the categorical/PSI operators: D = max |ECDF_a − ECDF_b|,
    sensitive to ANY distribution change (shift, spread, shape), not just
    bucket reweighting.

    Scale shape: values bin to ``floor(value / bin_width)`` first (exact
    KS on the binned data = KS of the underlying data evaluated at bin
    boundaries — the standard streaming/histogram KS), so the corpus
    reduces in ONE map-side-combined aggregate to ≤ #bins rows; the
    cumulative window then runs on that metadata-sized frame (the same
    bounded-spine exposure as gap fill; ``bin_width`` is the knob).

    Determinism: the ECDF difference is compared as EXACT integers —
    ``|ca_cum·n_b − cb_cum·n_a|`` over decimal(38,0) — and divided by
    ``n_a·n_b`` once at the end, rounded 1e-6.  NULL values are excluded.

    Returns one row: (n_a, n_b, ks_stat); ``ks_stat`` is NULL when either
    group contributes no rows (there is no second ECDF to compare)."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be > 0, got {bin_width}")
    v = F.col(value_col)
    s = df.filter(
        F.col(group_col).isin(group_a, group_b) & v.isNotNull()
    ).select(
        F.floor(v / F.lit(float(bin_width))).cast("long").alias("__bin"),
        (F.col(group_col) == group_a).alias("__a"),
    )
    g = s.groupBy("__bin").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(~F.col("__a"), 1).otherwise(0)).alias("__cb"),
    )
    w = Window.orderBy("__bin").rowsBetween(Window.unboundedPreceding, 0)
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = g.select(
        F.sum("__ca").over(w).cast("decimal(38,0)").alias("__cca"),
        F.sum("__cb").over(w).cast("decimal(38,0)").alias("__ccb"),
    ).select(
        "__cca",
        "__ccb",
        F.max("__cca").over(wtot).alias("__na"),
        F.max("__ccb").over(wtot).alias("__nb"),
    )
    # an empty group means there is no second ECDF: ks_stat is NULL, not a
    # DIVIDE_BY_ZERO crash under ANSI mode
    return cum.agg(
        F.coalesce(F.max("__cca").cast("long"), F.lit(0)).alias("n_a"),
        F.coalesce(F.max("__ccb").cast("long"), F.lit(0)).alias("n_b"),
        F.when(
            (F.max("__cca") > 0) & (F.max("__ccb") > 0),
            F.round(
                F.max(
                    F.abs(
                        F.col("__cca") * F.col("__nb")
                        - F.col("__ccb") * F.col("__na")
                    ).cast("double")
                )
                / (F.max("__cca").cast("double") * F.max("__ccb").cast("double")),
                6,
            ),
        ).alias("ks_stat"),
    )


def ks_oracle_sql(
    source_sql: str,
    value_expr: str,
    group_expr: str,
    group_a: str,
    group_b: str,
    bin_width: float = 1.0,
) -> str:
    """DuckDB replay of :func:`ks_statistic`: same binning, exact-integer
    cross-multiplied ECDF gap, one rounded division."""
    return f"""WITH s AS (
  SELECT CAST(floor(({value_expr}) / CAST({float(bin_width)!r} AS DOUBLE)) AS BIGINT) AS bin,
         ({group_expr}) = '{group_a}' AS in_a
  FROM ({source_sql})
  WHERE ({group_expr}) IN ('{group_a}', '{group_b}') AND ({value_expr}) IS NOT NULL
),
g AS (
  SELECT bin, sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS cb
  FROM s GROUP BY 1
),
c AS (
  SELECT sum(ca) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
         sum(cb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb
  FROM g
)
SELECT CAST(coalesce(max(cca), 0) AS BIGINT) AS n_a,
       CAST(coalesce(max(ccb), 0) AS BIGINT) AS n_b,
       CASE WHEN max(cca) > 0 AND max(ccb) > 0 THEN
         round(CAST(max(abs(cca * (SELECT max(ccb) FROM c) - ccb * (SELECT max(cca) FROM c))) AS DOUBLE)
               / (CAST(max(cca) AS DOUBLE) * CAST(max(ccb) AS DOUBLE)), 6)
       END AS ks_stat
FROM c"""


def windowed_drift(
    win_counts: DataFrame,
    baseline: DataFrame,
    col: str,
    win_col: str = "window_start",
    n_col: str = "n",
    k: float = 0.5,
) -> DataFrame:
    """Per-window PSI terms of a categorical distribution against a STATIC
    baseline — the streaming face of :func:`categorical_drift`: a windowed
    count stream (e.g. ``windowed_rollup`` keyed on the category) drains
    into per-(window, category) counts, and each window's distribution is
    scored against the reference corpus.  The monitor alarms on
    ``sum(psi_term)`` per window (same 0.1/0.25 thresholds).

    ``win_counts`` carries (``win_col``, ``col``, ``n_col``); ``baseline``
    is the raw reference frame (counted here).  Categories absent from a
    window (or from the baseline) still score — the category grid is
    windows × the UNION of categories, with the same add-``k`` smoothing
    convention as ``categorical_drift``, so one-sided categories stay
    finite and every window shares one smoothing denominator.

    Output: one row per (window, category) with rounded shares and
    ``psi_term`` — per-term rows, NOT a per-window float sum, so results
    stay order-independent across engines; callers sum after rounding.

    Scale shape: everything downstream of the drained stream is
    (windows × categories)-sized — counts, grid, joins; nothing
    corpus-sized moves (the corpus was reduced by the streaming aggregate
    and the one baseline count scan)."""
    # checkpoint both count tables: each feeds the category union, the grid
    # join and a totals aggregate — without the lineage cut the BASELINE
    # CORPUS would be re-scanned and re-counted once per consumer (and the
    # window counts recomputed likewise); after the cut every downstream
    # step reads category-cardinality rows
    wc = win_counts.select(
        F.col(win_col).alias("__w"), F.col(col).alias("__cat"), F.col(n_col).alias("__n")
    ).localCheckpoint(eager=False)
    bc = (
        baseline.groupBy(F.col(col).alias("__cat")).agg(F.count("*").alias("__cb"))
    ).localCheckpoint(eager=False)
    cats = wc.select("__cat").union(bc.select("__cat")).distinct()
    grid = wc.select("__w").distinct().crossJoin(cats)
    j = (
        grid.alias("g")
        .join(
            wc.alias("w"),
            (F.col("g.__w") == F.col("w.__w"))
            & F.col("g.__cat").eqNullSafe(F.col("w.__cat")),
            "left",
        )
        .join(bc.alias("b"), F.col("g.__cat").eqNullSafe(F.col("b.__cat")), "left")
        .select(
            F.col("g.__w").alias("__w"),
            F.col("g.__cat").alias("__cat"),
            F.coalesce(F.col("w.__n"), F.lit(0)).alias("__n"),
            F.coalesce(F.col("b.__cb"), F.lit(0)).alias("__cb"),
        )
    )
    from pyspark.sql.window import Window

    na = F.sum("__n").over(Window.partitionBy("__w"))
    # nb/C come from the UNDUPLICATED frames — aggregating the grid would
    # multiply the baseline total by the window count
    tot = bc.agg(F.sum("__cb").alias("__nb")).crossJoin(
        cats.agg(F.count(F.lit(1)).alias("__c"))
    )
    pw = (F.col("__n") + k) / (na + k * F.col("__c"))
    pb = (F.col("__cb") + k) / (F.col("__nb") + k * F.col("__c"))
    return (
        j.crossJoin(F.broadcast(tot))
        .select(
            F.col("__w").alias(win_col),
            F.col("__cat").alias(col),
            F.round(pw, 6).alias("share_win"),
            F.round(pb, 6).alias("share_base"),
            F.round((pw - pb) * F.log(pw / pb), 6).alias("psi_term"),
        )
        .orderBy(win_col, col)
    )


def windowed_drift_oracle_sql(
    win_counts_sql: str,
    baseline_sql: str,
    col: str,
    win_col: str = "window_start",
    n_col: str = "n",
    k: float = 0.5,
) -> str:
    """DuckDB replay of :func:`windowed_drift`: ``win_counts_sql`` yields
    (win_col, col, n_col) rows; ``baseline_sql`` the raw reference rows."""
    return f"""
WITH wc AS (SELECT {win_col} AS w, {col} AS cat, {n_col} AS n FROM ({win_counts_sql})),
bc AS (SELECT {col} AS cat, count(*) AS cb FROM ({baseline_sql}) GROUP BY 1),
cats AS (SELECT DISTINCT cat FROM (SELECT cat FROM wc UNION ALL SELECT cat FROM bc)),
grid AS (SELECT w, cat FROM (SELECT DISTINCT w FROM wc) CROSS JOIN cats),
j AS (
  SELECT g.w, g.cat, coalesce(wc.n, 0) AS n, coalesce(bc.cb, 0) AS cb
  FROM grid g
  LEFT JOIN wc ON wc.w = g.w AND wc.cat IS NOT DISTINCT FROM g.cat
  LEFT JOIN bc ON bc.cat IS NOT DISTINCT FROM g.cat
),
tw AS (SELECT w, sum(n) AS na FROM j GROUP BY w),
t AS (SELECT (SELECT sum(cb) FROM bc) AS nb, (SELECT count(*) FROM cats) AS c)
SELECT j.w AS {win_col}, j.cat AS {col},
       round((j.n + {k}) / (tw.na + {k} * t.c), 6) AS share_win,
       round((j.cb + {k}) / (t.nb + {k} * t.c), 6) AS share_base,
       round(((j.n + {k}) / (tw.na + {k} * t.c) - (j.cb + {k}) / (t.nb + {k} * t.c))
             * ln(((j.n + {k}) / (tw.na + {k} * t.c))
                  / ((j.cb + {k}) / (t.nb + {k} * t.c))), 6) AS psi_term
FROM j JOIN tw ON tw.w = j.w CROSS JOIN t
ORDER BY {win_col}, {col}
"""


def categorical_drift_oracle_sql(
    sql_a: str, sql_b: str, col: str, k: float = 0.5
) -> str:
    return f"""
WITH ca AS (SELECT {col} AS category, count(*) AS ca FROM ({sql_a}) GROUP BY 1),
cb AS (SELECT {col} AS category, count(*) AS cb FROM ({sql_b}) GROUP BY 1),
j AS (
  SELECT coalesce(ca.category, cb.category) AS category,
         coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM ca FULL OUTER JOIN cb ON ca.category IS NOT DISTINCT FROM cb.category
),
t AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS c FROM j)
SELECT category,
       round((ca + {k}) / (na + {k} * c), 6) AS share_a,
       round((cb + {k}) / (nb + {k} * c), 6) AS share_b,
       round(((ca + {k}) / (na + {k} * c) - (cb + {k}) / (nb + {k} * c))
             * ln(((ca + {k}) / (na + {k} * c)) / ((cb + {k}) / (nb + {k} * c))), 6)
         AS psi_term
FROM j CROSS JOIN t
ORDER BY category
"""


def span_corrupt(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask_denom: int = 5,
) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020, JMLR 21): mask spans of
    tokens and emit ``(input_text, target_text)`` training pairs — inputs
    carry ``<extra_id_k>`` sentinels where spans were removed, targets carry
    each sentinel followed by the tokens it hides.

    Deterministic, the content-hash sampling doctrine of this module: each
    token position masks iff ``md5(id:pos) % mask_denom == 0`` (expected
    mask rate 1/denom), so the pair set is stable under repartitioning,
    retries and engines — the DuckDB oracle replays every sentinel.
    CONSECUTIVE masked positions collapse into one span (span lengths come
    out geometric, the shape T5's mean-3 spans approximate).

    Scale shape: tokenize+posexplode is one codegen'd projection; the mask
    bit is a hash filter; runs/spans are two windows on the SAME (id, pos)
    ordering (one exchange); reassembly is the ``paragraph_dedup``
    array_sort-collect aggregate, one shuffle on the doc id.  Rows with
    NULL/empty text are excluded (nothing to corrupt).

    Returns ``(id, input_text, target_text, n_spans, n_masked)``."""
    from fineo_readerator_spark.llm_ops.dedup import _md5_long

    if mask_denom < 2:
        raise ValueError(f"mask_denom must be >= 2, got {mask_denom}")
    base = df.select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__t")
    ).filter(F.size("__t") > 0)
    key = F.concat(
        F.col("__id").cast("string"), F.lit(":"), F.col("__pos").cast("string")
    )
    toks = (
        base.select("__id", F.posexplode("__t").alias("__pos", "__tok"))
        .withColumn("__m", F.pmod(_md5_long(key), F.lit(mask_denom)) == 0)
        .localCheckpoint(eager=False)  # feeds the masked AND unmasked branches
    )
    w_pos = Window.partitionBy("__id").orderBy("__pos")
    masked = (
        toks.filter(F.col("__m"))
        .withColumn("__run", F.col("__pos") - F.row_number().over(w_pos))
        .withColumn(
            "__span",
            F.dense_rank().over(Window.partitionBy("__id").orderBy("__run")) - 1,
        )
        .localCheckpoint(eager=False)  # feeds input sentinels AND target runs
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("__span").cast("string"), F.lit(">"))
    firsts = (
        masked.groupBy("__id", "__span")
        .agg(F.min("__pos").alias("__pos"))
        .select("__id", "__pos", sentinel.alias("__tok"))
    )
    reassemble = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
            lambda s: s["__tok"],
        ),
    )
    inputs = (
        toks.filter(~F.col("__m"))
        .select("__id", "__pos", "__tok")
        .unionAll(firsts)
        .groupBy("__id")
        .agg(reassemble.alias("input_text"))
    )
    runs = masked.groupBy("__id", "__span").agg(
        F.concat(
            F.lit("<extra_id_"),
            F.col("__span").cast("string"),
            F.lit("> "),
            reassemble,
        ).alias("__seg"),
        F.count(F.lit(1)).alias("__nt"),
    )
    targets = runs.groupBy("__id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__span", "__seg"))),
                lambda s: s["__seg"],
            ),
        ).alias("target_text"),
        (F.max("__span") + 1).alias("__ns"),
        F.sum("__nt").alias("__nm"),
    )
    return (
        base.select("__id")
        .join(inputs, "__id", "left")
        .join(targets, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("input_text", F.lit("")).alias("input_text"),
            F.coalesce("target_text", F.lit("")).alias("target_text"),
            F.coalesce("__ns", F.lit(0)).cast("int").alias("n_spans"),
            F.coalesce("__nm", F.lit(0)).cast("long").alias("n_masked"),
        )
    )


def span_corrupt_oracle_sql(
    corpus_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask_denom: int = 5,
) -> str:
    """DuckDB replay of :func:`span_corrupt` — same md5(id:pos) mask bits,
    run grouping, sentinel numbering and ordered reassembly."""
    from fineo_readerator_spark.llm_ops.dedup_oracles import _hexparse

    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'), x -> length(x) > 0)"
    h = _hexparse("md5(CAST(id AS VARCHAR) || ':' || CAST(pos AS VARCHAR))", 1, 15)
    return f"""
WITH __base AS (
  SELECT {id_col} AS id, {toks} AS t FROM ({corpus_sql})
),
__base2 AS (SELECT * FROM __base WHERE len(t) > 0),
__tok AS (
  SELECT id, CAST(i - 1 AS INT) AS pos, t[i] AS tok
  FROM __base2, unnest(generate_series(1, len(t))) u(i)
),
__m AS (SELECT id, pos, tok, ({h}) % {mask_denom} = 0 AS m FROM __tok),
__mm AS (
  SELECT id, pos, tok,
         pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS run
  FROM __m WHERE m
),
__sp AS (
  SELECT id, pos, tok, run,
         dense_rank() OVER (PARTITION BY id ORDER BY run) - 1 AS span
  FROM __mm
),
__firsts AS (
  SELECT id, min(pos) AS pos,
         '<extra_id_' || CAST(span AS VARCHAR) || '>' AS tok
  FROM __sp GROUP BY id, span
),
__inp AS (
  SELECT id, string_agg(tok, ' ' ORDER BY pos) AS input_text FROM (
    SELECT id, pos, tok FROM __m WHERE NOT m
    UNION ALL SELECT id, pos, tok FROM __firsts
  ) GROUP BY id
),
__runs AS (
  SELECT id, span,
         '<extra_id_' || CAST(span AS VARCHAR) || '> '
           || string_agg(tok, ' ' ORDER BY pos) AS seg,
         count(*) AS nt
  FROM __sp GROUP BY id, span
),
__tgt AS (
  SELECT id, string_agg(seg, ' ' ORDER BY span) AS target_text,
         max(span) + 1 AS ns, sum(nt) AS nm
  FROM __runs GROUP BY id
)
SELECT b.id AS {id_col},
       coalesce(input_text, '') AS input_text,
       coalesce(target_text, '') AS target_text,
       CAST(coalesce(ns, 0) AS INT) AS n_spans,
       CAST(coalesce(nm, 0) AS BIGINT) AS n_masked
FROM (SELECT id FROM __base2) b
LEFT JOIN __inp USING (id) LEFT JOIN __tgt USING (id)
"""


def preference_pairs(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    score_col: str,
    min_margin: int = 1,
) -> DataFrame:
    """Max-margin preference pairs for reward-model / DPO training: per
    group (the "prompt"), pair the best-scoring row (chosen) against the
    worst (rejected) — ties break to the SMALLEST id for chosen and the
    LARGEST for rejected, so a ≥2-row group always yields two distinct
    rows.  Groups whose margin (chosen − rejected score) is below
    ``min_margin`` are dropped: a zero-margin pair carries no preference
    signal (scores must be integers for the margin contract to be exact).

    Scale shape: ONE exchange on the group key serves both rank windows
    (same partitioning, two sort orders), then a group-keyed aggregate
    collapses the two rank-1 rows — output is |groups| rows; no self-join
    of the corpus against itself."""
    if not group_cols:
        raise ValueError("preference_pairs requires group columns (the prompt key)")
    wc = Window.partitionBy(*group_cols).orderBy(F.desc("__s"), F.asc("__id"))
    wr = Window.partitionBy(*group_cols).orderBy(F.asc("__s"), F.desc("__id"))
    flagged = df.select(
        *group_cols,
        F.col(id_col).alias("__id"),
        F.col(score_col).cast("long").alias("__s"),
    ).select(
        "*",
        F.row_number().over(wc).alias("__rc"),
        F.row_number().over(wr).alias("__rr"),
    )
    return (
        flagged.filter((F.col("__rc") == 1) | (F.col("__rr") == 1))
        .groupBy(*group_cols)
        .agg(
            F.max(F.when(F.col("__rc") == 1, F.col("__id"))).alias("chosen_id"),
            F.max(F.when(F.col("__rc") == 1, F.col("__s"))).alias("chosen_score"),
            F.max(F.when(F.col("__rr") == 1, F.col("__id"))).alias("rejected_id"),
            F.max(F.when(F.col("__rr") == 1, F.col("__s"))).alias("rejected_score"),
        )
        .withColumn("margin", F.col("chosen_score") - F.col("rejected_score"))
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .filter(F.col("margin") >= min_margin)
    )


def preference_pairs_oracle_sql(
    corpus_sql: str,
    group_cols: list[str],
    id_col: str,
    score_col: str,
    min_margin: int = 1,
) -> str:
    """DuckDB replay of :func:`preference_pairs` — same two rank windows,
    same tie-breaks and margin gate."""
    g = ", ".join(group_cols)
    return f"""
WITH base AS (
  SELECT {g}, {id_col} AS id, CAST({score_col} AS BIGINT) AS s
  FROM ({corpus_sql})
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY {g} ORDER BY s DESC, id ASC) AS rc,
         row_number() OVER (PARTITION BY {g} ORDER BY s ASC, id DESC) AS rr
  FROM base
),
pairs AS (
  SELECT {g},
         max(CASE WHEN rc = 1 THEN id END) AS chosen_id,
         max(CASE WHEN rc = 1 THEN s END) AS chosen_score,
         max(CASE WHEN rr = 1 THEN id END) AS rejected_id,
         max(CASE WHEN rr = 1 THEN s END) AS rejected_score
  FROM ranked WHERE rc = 1 OR rr = 1 GROUP BY {g}
)
SELECT {g}, chosen_id, chosen_score, rejected_id, rejected_score,
       chosen_score - rejected_score AS margin
FROM pairs
WHERE chosen_id != rejected_id AND chosen_score - rejected_score >= {min_margin}
"""


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    k: int = 100,
    seed: int = 42,
) -> DataFrame:
    """Hashed-n-gram importance selection, the deterministic core of DSIR
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling"): score each raw document by how much its token
    distribution looks like the TARGET corpus, estimated over hashed
    unigram features, and keep the top-``k``.  Where DSIR resamples with
    Gumbel noise, this ranks by the importance proxy with a hash tiebreak
    — reproducible on any engine/partitioning (the repo's determinism
    rule; noise would be RNG-order-dependent).

    Per feature ``f`` (a token md5-hashed into ``n_buckets``), the add-one
    smoothed frequency ratio ``ratio_ppm(f) = half-up(10⁶ · (ct_t+1)
    ·(N_r+B) / ((ct_r+1)·(N_t+B)))``; a document scores the
    count-weighted mean of its tokens' ratios, ``score_ppm =
    half-up(Σ c_f·ratio_ppm / Σ c_f)`` — 10⁶ means "exactly
    target-typical", higher means over-represented in the target.  All
    integer arithmetic over decimal(38,0)/HUGEINT (headroom to ~10¹³
    corpus tokens at ppm scale).

    Scale shape: hashing is what BOUNDS the feature space — the ratio
    table is ≤ ``n_buckets`` rows by construction, so its join side is
    metadata-sized no matter how large the corpus (the un-hashed
    vocabulary table that must NOT be broadcast is exactly what this
    avoids); token counts are map-side-combined feature-keyed aggs; the
    per-doc score is one explode + one (doc, feature)-grain agg joined to
    the bounded ratio table.  Top-k is a TakeOrdered."""
    from fineo_readerator_spark.llm_ops.textstats import tokens

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")

    def feat(tok: Column) -> Column:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}|"), tok)), 1, 15), 16, 10
        )
        return F.pmod(h.cast("long"), F.lit(n_buckets))

    def featurize(df: DataFrame, with_id: bool) -> DataFrame:
        # NOT spread (measured, r11 optimization round): each featurize
        # stage is ~0.5 s of CPU — near the ~0.3-0.5 s 32-task
        # stage-overhead floor of local mode — and spreading regressed
        # p_dsir_select 1.2 s → 1.8 s A/B (extra exchanges on five
        # sequential small stages).  Clusters scan wide already.
        cols = [F.col(id_col).alias("__id")] if with_id else []
        return df.select(*cols, F.explode(tokens(F.col(text_col))).alias("__tok")).select(
            *(["__id"] if with_id else []), feat(F.col("__tok")).alias("__f")
        )

    raw_f = featurize(raw, with_id=True).localCheckpoint(eager=False)
    tgt_counts = (
        featurize(target, with_id=False)
        .groupBy("__f")
        .agg(F.count(F.lit(1)).alias("__ct_t"))
    )
    raw_counts = raw_f.groupBy("__f").agg(F.count(F.lit(1)).alias("__ct_r"))
    # bounded by construction: <= n_buckets rows each — broadcast is safe
    # here in a way it is NOT for an unhashed vocabulary table
    totals = raw_counts.agg(F.sum("__ct_r").alias("__n_r")).crossJoin(
        tgt_counts.agg(F.sum("__ct_t").alias("__n_t"))
    )
    ratios = (
        raw_counts.join(tgt_counts, "__f", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "__f",
            F.expr(
                "cast(((cast(coalesce(__ct_t, 0) as decimal(38,0)) + 1)"
                f" * (__n_r + {n_buckets}) * 2000000"
                " + (cast(__ct_r as decimal(38,0)) + 1)"
                f" * (__n_t + {n_buckets}))"
                " div ((cast(__ct_r as decimal(38,0)) + 1)"
                f" * (__n_t + {n_buckets}) * 2) as bigint)"
            ).alias("__ratio_ppm"),
        )
    )
    doc_feats = raw_f.groupBy("__id", "__f").agg(F.count(F.lit(1)).alias("__c"))
    scored = (
        doc_feats.join(F.broadcast(ratios), "__f")
        .groupBy("__id")
        .agg(
            F.sum("__c").cast("long").alias("n_tokens"),
            F.expr(
                "cast((sum(cast(__c as decimal(38,0)) * __ratio_ppm) * 2 + sum(__c))"
                " div (cast(sum(__c) as decimal(38,0)) * 2) as bigint)"
            ).alias("score_ppm"),
        )
    )
    return (
        scored.orderBy(F.desc("score_ppm"), "__id")
        .limit(k)
        .select(F.col("__id").alias(id_col), "n_tokens", "score_ppm")
    )


def dsir_oracle_sql(
    raw_sql: str,
    target_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    k: int = 100,
    seed: int = 42,
) -> str:
    """DuckDB replay of :func:`dsir_select` — same md5 feature hash,
    add-one smoothing and half-up integer divisions."""
    md5 = f"md5(concat('{seed}|', tok))"
    parse = (
        "list_sum(list_transform(generate_series(1, 15),"
        f" i -> (strpos('0123456789abcdef', substr({md5}, CAST(i AS INT), 1)) - 1)::BIGINT"
        " * (1::BIGINT << (4 * (15 - i)))))"
    )
    toks = (
        f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'),"
        " x -> length(x) > 0)"
    )
    return f"""
WITH raw_toks AS (
  SELECT {id_col} AS id, unnest({toks}) AS tok FROM ({raw_sql})
),
tgt_toks AS (
  SELECT unnest({toks}) AS tok FROM ({target_sql})
),
raw_f AS (SELECT id, {parse} % {n_buckets} AS f FROM raw_toks),
tgt_f AS (SELECT {parse} % {n_buckets} AS f FROM tgt_toks),
raw_counts AS (SELECT f, count(*) AS ct_r FROM raw_f GROUP BY f),
tgt_counts AS (SELECT f, count(*) AS ct_t FROM tgt_f GROUP BY f),
totals AS (
  SELECT (SELECT sum(ct_r) FROM raw_counts) AS n_r,
         (SELECT sum(ct_t) FROM tgt_counts) AS n_t
),
ratios AS (
  SELECT rc.f,
         CAST(((CAST(coalesce(tc.ct_t, 0) AS HUGEINT) + 1)
                * (n_r + {n_buckets}) * 2000000
               + (CAST(rc.ct_r AS HUGEINT) + 1) * (n_t + {n_buckets}))
              // ((CAST(rc.ct_r AS HUGEINT) + 1) * (n_t + {n_buckets}) * 2)
              AS BIGINT) AS ratio_ppm
  FROM raw_counts rc LEFT JOIN tgt_counts tc ON rc.f = tc.f
  CROSS JOIN totals
),
doc_feats AS (SELECT id, f, count(*) AS c FROM raw_f GROUP BY id, f)
SELECT id AS {id_col},
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST((sum(CAST(c AS HUGEINT) * ratio_ppm) * 2 + sum(c))
            // (CAST(sum(c) AS HUGEINT) * 2) AS BIGINT) AS score_ppm
FROM doc_feats JOIN ratios ON doc_feats.f = ratios.f
GROUP BY id
ORDER BY score_ppm DESC, id
LIMIT {k}
"""


def epoch_plan(
    df: DataFrame,
    group_col: str = "source",
    tokens_col: str = "n_tokens",
    total_budget: int = 10_000_000,
    max_epochs: int = 4,
) -> DataFrame:
    """Per-source epoch allocation under a total training-token budget —
    the data-constrained planning report: each of the S sources is
    offered an equal token quota (``total_budget div S``), a source
    repeats its data up to ``max_epochs`` times to fill it, and what it
    cannot fill is reported as ``shortfall_tokens`` (the budget a curator
    re-allocates or fills with new crawl — made EXPLICIT rather than
    silently rebalanced, since re-allocation policy is a human choice).

    Exact integers: quota = truncating div (non-negative);
    ``alloc_tokens = least(quota, max_epochs·T_s)``;
    ``epochs_milli = half-up(1000·alloc/T_s)`` (≤ 1000·max_epochs by
    construction); ``starved`` flags sources that hit the epoch cap.

    Scale shape: ONE (group) sum aggregate over the stats frame (the
    corpus-sized pass), a broadcast 1-row source-count frame, and a
    |sources|-sized projection — the report is mix-cardinality, never
    rows."""
    if total_budget < 1:
        raise ValueError(f"total_budget must be >= 1, got {total_budget}")
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    per = (
        df.groupBy(F.col(group_col).alias("g"))
        .agg(F.sum(F.col(tokens_col).cast("long")).alias("t"))
        .filter(F.col("t") > 0)
    )
    s_cnt = per.agg(F.count(F.lit(1)).alias("__s"))
    out = per.crossJoin(F.broadcast(s_cnt)).select(
        F.col("g").alias(group_col),
        F.col("t").cast("long").alias("n_tokens"),
        F.expr(f"cast({total_budget} div __s as bigint)").alias("quota_tokens"),
        F.expr(
            f"cast(least({total_budget} div __s,"
            f" cast({max_epochs} as bigint) * t) as bigint)"
        ).alias("alloc_tokens"),
    )
    return out.select(
        group_col,
        "n_tokens",
        "quota_tokens",
        "alloc_tokens",
        F.expr(
            "cast((cast(alloc_tokens as decimal(38,0)) * 2000 + n_tokens)"
            " div (cast(n_tokens as decimal(38,0)) * 2) as bigint)"
        ).alias("epochs_milli"),
        (F.col("quota_tokens") - F.col("alloc_tokens")).cast("long").alias(
            "shortfall_tokens"
        ),
        (F.col("alloc_tokens") < F.col("quota_tokens")).alias("starved"),
    )


def epoch_plan_oracle_sql(
    stats_sql: str,
    group_col: str = "source",
    tokens_col: str = "n_tokens",
    total_budget: int = 10_000_000,
    max_epochs: int = 4,
) -> str:
    """DuckDB replay of :func:`epoch_plan` — same truncating quota,
    least() cap and half-up milli-epochs (all divisions non-negative, so
    both engines' truncation agrees)."""
    return f"""
WITH per AS (
  SELECT {group_col} AS g, CAST(sum(CAST({tokens_col} AS BIGINT)) AS BIGINT) AS t
  FROM ({stats_sql}) GROUP BY 1 HAVING sum(CAST({tokens_col} AS BIGINT)) > 0
),
s AS (SELECT count(*) AS sc FROM per),
o AS (
  SELECT g, t,
         CAST({total_budget} // sc AS BIGINT) AS quota_tokens,
         CAST(least({total_budget} // sc, CAST({max_epochs} AS BIGINT) * t)
              AS BIGINT) AS alloc_tokens
  FROM per, s
)
SELECT g AS {group_col}, t AS n_tokens, quota_tokens, alloc_tokens,
       CAST((CAST(alloc_tokens AS HUGEINT) * 2000 + t)
            // (CAST(t AS HUGEINT) * 2) AS BIGINT) AS epochs_milli,
       CAST(quota_tokens - alloc_tokens AS BIGINT) AS shortfall_tokens,
       alloc_tokens < quota_tokens AS starved
FROM o
"""
