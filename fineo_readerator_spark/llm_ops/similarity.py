"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — one scan + one top-k reduce
  (``orderBy().limit()`` → Spark TakeOrderedAndProject: per-partition heaps,
  no global sort materialization).  The correctness baseline.
- ``lsh_bucketed_topk``: random-hyperplane LSH scale path — probes only
  buckets near the query's signature; at 1000 executors the scan cost drops
  by the bucket selectivity while recall stays tunable via ``max_probe_dist``.
- ``embedding_near_dup_pairs``: cosine near-duplicate detection via the same
  hyperplane bucketing (self-join on bucket key, verify exact cosine).

All arithmetic is Catalyst higher-order functions in double precision —
no UDFs, identical formula to the DuckDB oracle.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fineo_readerator_spark.llm_ops.dedup import _spread
from fineo_readerator_spark.session import is_local_master


# The DuckDB-side cosine that matches this module's Spark expression shape
# bit-for-bit (same operand order, double casts, round at 1e-6).  ONE shared
# template — every oracle formats this instead of pasting its own copy, so a
# change to cosine rounding/casting can never make oracles diverge from each
# other.  Format with a=<corpus vector SQL>, b=<query vector SQL>.
COSINE_SQL = (
    "round(list_sum(list_transform(generate_series(1, len({a})),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
)


def _vec_lit(vec: list[float]) -> Column:
    """Literal double array via ONE parsed SQL string — building it from N
    ``F.lit`` calls costs N py4j round-trips (~0.5 s of driver time per
    64-dim vector), which dominates these sub-second queries.  ``repr``
    round-trips doubles exactly and the ``D`` suffix pins the SQL literal to
    DOUBLE (bare decimals parse as DECIMAL)."""
    return F.expr("array(" + ",".join(f"{float(v)!r}D" for v in vec) + ")")


def _dot(a: Column, b: Column) -> Column:
    """Dot product in double precision via the higher-order-function fold.

    Note for future tuning: an unrolled ``0.0 + a[1]*b[1] + ...`` chain is
    bit-identical and ~2× faster in projection (codegen) context, but pair
    similarity predicates get pushed INTO the join condition, where the
    unrolled chain evaluates as 100+ interpreted Invoke nodes and is ~3×
    SLOWER than this fold's tight loop — measured, not guessed."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cos_normed(va: str, vb: str, na: str, nb: str, digits: int) -> Column:
    """Rounded cosine of two vector columns whose norms ``na``/``nb`` were
    computed once per row: a pair join must not recompute them per pair."""
    return F.round(_dot(F.col(va), F.col(vb)) / (F.col(na) * F.col(nb)), digits)


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity to a literal query vector."""
    q = _vec_lit(query_vec)
    sim = F.round(cosine(F.col(vec_col), q), round_digits)
    return (
        df.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    shortlist: int = 20,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_shortlist: int = 1000,
) -> DataFrame:
    """Maximal-marginal-relevance rerank: greedily pick ``k`` results from
    the exact cosine top-``shortlist``, each step maximizing ``λ·rel(d) −
    (1−λ)·max_{s∈S} sim(d, s)`` — the standard diversity rerank that stops
    a result page (or a RAG context window) from being k near-copies of
    the same passage.

    Scale shape: the corpus is touched ONCE (the cosine_topk scan); the
    greedy loop runs DRIVER-LOCAL over the metadata-sized shortlist
    (shortlist ids + vectors collect; the BPE-merges precedent for small
    model-state iteration) with ``max_shortlist`` gating the collect.

    Determinism: shortlist rels and pairwise sims use the SAME fold order
    and half-up 1e-6 rounding as the executor/oracle cosine, and every
    remaining double op (λ·rel, (1−λ)·maxsim, subtraction) is a single
    exactly-rounded IEEE operation on identical operands — so the python
    walk, the Spark values and the DuckDB unrolled replay pick identical
    winners; ties break to the smaller id.  Output (rank, id, rel)."""
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k < 1 or shortlist < k:
        raise ValueError(f"need 1 <= k <= shortlist, got k={k} shortlist={shortlist}")
    if shortlist > max_shortlist:
        raise ValueError(
            f"shortlist={shortlist:,} exceeds max_shortlist={max_shortlist:,}: "
            "the greedy loop collects the shortlist to the driver — raise the "
            "bound explicitly if the driver can hold it"
        )
    top = cosine_topk(df, query_vec, k=shortlist, id_col=id_col, vec_col=vec_col,
                      round_digits=round_digits).collect()
    rel = {r[id_col]: float(r["cos_sim"]) for r in top}
    ids = list(rel)
    vec_rows = (
        df.filter(F.col(id_col).isin(ids)).select(id_col, vec_col).collect()
    )
    vecs = {r[id_col]: [float(v) for v in r[vec_col]] for r in vec_rows}

    def cos(a: list[float], b: list[float]) -> float:
        dot = na = nb = 0.0
        for x, y in zip(a, b):  # same left fold as _dot/_norm
            dot += x * y
            na += x * x
            nb += y * y
        return _round_half_up(dot / (math.sqrt(na) * math.sqrt(nb)), round_digits)

    sims = {
        (a, b): cos(vecs[a], vecs[b]) for a in ids for b in ids if a != b
    }
    oml = 1.0 - lam  # repr-shared with the oracle (the 1-0.85 float lesson)
    selected: list = []
    remaining = set(ids)
    out = []
    while remaining and len(selected) < k:
        best_id, best_score = None, None
        for cid in sorted(remaining):
            maxsim = max((sims[(cid, s)] for s in selected), default=0.0)
            score = lam * rel[cid] - oml * maxsim
            if best_score is None or score > best_score:
                best_id, best_score = cid, score
        selected.append(best_id)
        remaining.discard(best_id)
        out.append((len(selected), best_id, rel[best_id]))

    from pyspark.sql import types as T

    id_field = next(f for f in df.schema.fields if f.name == id_col)
    schema = T.StructType(
        [
            T.StructField("rank", T.LongType()),
            T.StructField(id_col, id_field.dataType),
            T.StructField("rel", T.DoubleType()),
        ]
    )
    if not out:
        return df.sparkSession.createDataFrame([], schema)
    # Arrow local frame, not the pickled-RDD path (see
    # dedup._components_min_label): no Python worker in the executed plan
    import pandas as pd

    return df.sparkSession.createDataFrame(
        pd.DataFrame(out, columns=["rank", id_col, "rel"]), schema
    )


def _exact_sum(x: Column) -> Column:
    """Order-independent sum of doubles: every term rounded at 1e-12 and
    summed as exact ``decimal(38,12)``, then back to double — the same value
    whatever the partitioning, and the same as the DuckDB replay."""
    return F.sum(F.round(x, 12).cast("decimal(38,12)")).cast("double")


def _modal_dim(df: DataFrame, vec_col: str) -> int:
    """Authoritative embedding dimension of a corpus: the MOST COMMON vector
    size among non-NULL vectors (ties → smaller size, deterministic).  Using
    the mode instead of "the first/lowest-id row's size" means one stray
    misdimensioned row can never redefine the dimension and filter out the
    entire valid corpus.  Raises a clear ValueError when no non-NULL vector
    exists.  One metadata-sized aggregate (≤ #distinct sizes rows collect);
    callers that already know the dimension pass it explicitly and skip this
    scan."""
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .groupBy(F.size(F.col(vec_col)).alias("__d"))
        .count()
        .orderBy(F.desc("count"), F.asc("__d"))
        .limit(1)
        .collect()
    )
    if not rows:
        raise ValueError(
            f"no non-NULL vectors in column {vec_col!r}: cannot infer the "
            "embedding dimension (pass dim= explicitly or fix the input)"
        )
    return int(rows[0]["__d"])


def _rankable(df: DataFrame, vec_col: str, dim: int | None = None) -> tuple[DataFrame, int]:
    """The rows whose vector is non-NULL and of dimension ``dim`` (by
    default the :func:`_modal_dim`), and that dimension."""
    df = df.filter(F.col(vec_col).isNotNull())
    if dim is None:
        dim = _modal_dim(df, vec_col)
    return df.filter(F.size(vec_col) == dim), dim


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _round_half_up(x: float, digits: int = 9) -> float:
    """Driver-side replica of Spark's ``F.round`` on a double: HALF_UP over
    the SHORTEST decimal repr (Java ``BigDecimal.valueOf`` goes through
    ``Double.toString``; Python ``repr`` is the same shortest round-trip).
    Plain ``round()`` is banker's (HALF_EVEN) over the exact binary value —
    it disagrees at exact decimal halves (dyadic doubles like 1/1024 =
    0.0009765625 at digits=9), so every driver-computed value that must
    match an executor/oracle F.round goes through this instead (r8 ADVICE).
    Runs under a widened decimal context: quantizing a magnitude ≥ 1e19 to
    9 fraction digits needs > 28 significant digits and would raise
    InvalidOperation under the default 28-digit context (r9 review); 340
    digits cover the full double range (max exponent 308) + the fraction."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    with localcontext() as ctx:
        ctx.prec = 340
        return float(
            Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP)
        )


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature as an int bucket key (random-hyperplane LSH: P[bit
    agree] = 1 - angle/π).  The dot is rounded at 1e-9 before the sign test —
    same cross-engine guard as ``_cells_array_sql``: a projection within
    float-noise of 0 must not flip its bit when another engine's summation
    order drifts by an ulp."""
    return _sign_bits([F.round(_dot(vec, _vec_lit(p)), 9) for p in planes])


def _sign_bits(dots: list[Column]) -> Column:
    """Bit ``i`` set iff plane ``i``'s (rounded) projection is ``>= 0``."""
    sig = None
    for i, d in enumerate(dots):
        bit = F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return sig


def lsh_bucketed_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    max_probe_dist: int = 1,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: probe only buckets whose signature is within
    ``max_probe_dist`` sign-bit flips of the query's bucket, then exact
    cosine within the probed subset.

    The bucket filter is a scan-level predicate (bit_count(x XOR q) ≤ d) —
    Catalyst pushes it down; with a materialized signature column + bucketed
    layout the non-probed partitions are never read."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes, seed)
    sig = hyperplane_signature(F.col(vec_col), planes)
    # query signature computed driver-side with identical arithmetic
    # (including the 1e-9 sign-boundary rounding)
    qsig = 0
    for i, p in enumerate(planes):
        if _round_half_up(sum(float(a) * float(b) for a, b in zip(query_vec, p))) >= 0:
            qsig |= 1 << i
    probed = df.withColumn("__sig", sig).filter(
        F.bit_count(F.col("__sig").bitwiseXOR(F.lit(qsig))) <= max_probe_dist
    )
    return cosine_topk(probed, query_vec, k, id_col, vec_col, round_digits)


def ivf_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means centroids over the corpus, every vector
    assigned to its nearest cell.  Returns (df + ``__cell`` column, centroid
    list).

    Scale shape: training runs on Spark ML's distributed k-means (sampled
    corpora work fine for a coarse quantizer); assignment is one narrow pass.
    Persist ``__cell`` as a partition/bucket column and queries touch only
    ``n_probe``/``n_centroids`` of the data — the classic IVF trade."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    feats = df.withColumn("__features", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=n_centroids, seed=seed, featuresCol="__features", predictionCol="__cell")
    model = km.fit(feats)
    assigned = model.transform(feats).drop("__features")
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` cells whose centroids are
    closest to the query (euclidean, matching the quantizer), exact cosine
    within the probed cells.  ``n_probe = n_centroids`` degenerates to exact
    brute force."""
    assigned, centroids = ivf_assign(df, vec_col, n_centroids, seed)
    dists = [
        (i, sum((float(a) - float(b)) ** 2 for a, b in zip(query_vec, c)))
        for i, c in enumerate(centroids)
    ]
    probe = [i for i, _ in sorted(dists, key=lambda t: t[1])[:n_probe]]
    probed = assigned.filter(F.col("__cell").isin(probe)).drop("__cell")
    return cosine_topk(probed, query_vec, k, id_col, vec_col, round_digits)


# a FIXED cell count is the measured scale hazard (16 cells at 10× data ≈
# α 0.9–1.2 in SCALE_CHECK.md), so the auto paths size CELL COUNT to the
# corpus: ~target rows per cell, via n_planes ≈ log2(N/target) hyperplanes
# (one more plane per corpus doubling — cells grow linearly with N at
# O(N·logN·dim) assignment cost; an auto-sized LITERAL codebook would
# assign at O(N²·dim/target), the 100×-measured trap).  Callers needing a
# pinned codebook (oracle determinism) pass n_centroids explicitly.
DEFAULT_TARGET_ROWS_PER_CELL = 256


def seeded_codebook(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list[tuple[int, list[float]]]:
    """Deterministic data-sampled codebook: the ``n_centroids`` lowest-id
    vectors (the zero-iteration analog of k-means init).  SQL-expressible,
    so operators built on it are oracle-checkable."""
    return [
        (r[0], [float(v) for v in r[1]])
        for r in df.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    ]


def _cells_array_sql(vec_col: str, seeds: list[tuple[int, list[float]]]) -> str:
    """SQL for the per-row array of ``(d, sid)`` structs against a codebook:
    squared-euclidean distances rounded (1e-9) so floating-point
    association differences between engines can never flip a cell choice;
    ties go to the lower centroid id (struct comparison orders by ``d``
    then ``sid``)."""

    def dist_sql(vec_expr: str, seed: list[float]) -> str:
        arr = "array(" + ",".join(f"{float(v)!r}D" for v in seed) + ")"
        return (
            f"round(aggregate(zip_with({vec_expr}, {arr},"
            " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
            " 0D, (acc, v) -> acc + v), 9)"
        )

    return (
        "array("
        + ",".join(
            f"named_struct('d', {dist_sql(vec_col, sv)}, 'sid', {sid}L)" for sid, sv in seeds
        )
        + ")"
    )


def seeded_cell_struct_expr(
    vec_col: str, seeds: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid struct ``(d, sid)`` of a vector against a codebook
    (see :func:`_cells_array_sql` for the rounding/tie contract)."""
    return F.expr(f"array_min({_cells_array_sql(vec_col, seeds)})")


def probe_cells_expr(
    vec_col: str, seeds: list[tuple[int, list[float]]], n_probe: int
) -> Column:
    """The ``n_probe`` nearest cell ids of a vector as an array (multi-probe
    assignment) — same rounding/tie contract as the single-cell argmin;
    element 1 IS the primary cell."""
    return F.expr(
        f"transform(slice(array_sort({_cells_array_sql(vec_col, seeds)}),"
        f" 1, {n_probe}), s -> s.sid)"
    )


def lsh_probe_cells_expr(
    vec_col: str, planes: list[list[float]], n_probe: int
) -> Column:
    """The ``n_probe`` LSH probe cells of a vector as an array — element 1
    is the primary hyperplane signature (bit-identical arithmetic to
    :func:`hyperplane_signature`: dot rounded at 1e-9 before the sign
    test); elements 2..n_probe flip the sign bit of the vector's
    ``n_probe - 1`` lowest-|projection| planes (standard LSH multiprobe —
    the planes a vector sits closest to are the ones whose far side its
    true neighbors most plausibly landed on).  Margin ties break to the
    lower plane index, so the probe list is deterministic."""
    dots = [F.round(_dot(F.col(vec_col), _vec_lit(p)), 9) for p in planes]
    sig = _sign_bits(dots).cast("long")
    if n_probe == 1:
        return F.array(sig)
    margins = F.array_sort(
        F.array(
            *[
                F.struct(F.abs(d).alias("m"), F.lit(i).alias("i"))
                for i, d in enumerate(dots)
            ]
        )
    )
    # shiftleft() needs a literal bit count, so the per-plane masks go in
    # as a literal array indexed by the sorted struct's plane id
    masks = F.array(*[F.lit(1 << i) for i in range(len(planes))])
    flips = F.transform(
        F.slice(margins, 1, n_probe - 1),
        lambda s: sig.bitwiseXOR(F.element_at(masks, s["i"] + 1).cast("long")),
    )
    return F.concat(F.array(sig), flips)


def seeded_cell_expr(vec_col: str, seeds: list[tuple[int, list[float]]]) -> Column:
    """Cell id of a vector against a seeded codebook (see
    :func:`seeded_cell_struct_expr` for the tie/rounding contract)."""
    return seeded_cell_struct_expr(vec_col, seeds).getField("sid")


def ivf_seeded_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """IVF approximate top-k with a DETERMINISTIC coarse quantizer: the
    ``n_centroids`` lowest-id vectors serve as cell centroids (a data-sampled
    codebook — the zero-iteration analog of k-means init), every vector goes
    to its nearest centroid (squared euclidean, ties to the lower centroid
    id), and the query probes the ``n_probe`` nearest cells with exact cosine
    inside.  Same scale shape as the k-means variant (``ivf_topk``): persist
    the cell id as a partition/bucket column and a query touches only
    n_probe/n_centroids of the corpus.  Unlike trained centroids, this
    codebook is SQL-expressible, so the whole operator is oracle-checkable.

    Distances are rounded (1e-9) before the argmin so floating-point
    association differences between engines can never flip the cell choice.
    """
    seeds = seeded_codebook(df, id_col, vec_col, n_centroids)
    cell = seeded_cell_expr(vec_col, seeds)
    # probe cells chosen driver-side with the same rounded arithmetic
    qd = sorted(
        (_round_half_up(sum((float(q) - s) ** 2 for q, s in zip(query_vec, sv))), sid)
        for sid, sv in seeds
    )
    probe = [sid for _, sid in qd[:n_probe]]
    probed = df.withColumn("__cell", cell).filter(F.col("__cell").isin(probe)).drop("__cell")
    return cosine_topk(probed, query_vec, k, id_col, vec_col, round_digits)


def embedding_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Eval-set decontamination in EMBEDDING space: flag corpus rows whose
    cosine against ANY eval/benchmark row reaches ``threshold`` — the
    semantic complement of the fingerprint-based ``decontaminate``
    (paraphrased benchmark leakage shares no verbatim span but sits next
    to the benchmark in embedding space).

    Unrankable vectors (NULL, wrong dimension, zero norm) are EXCLUDED from
    both sides before the signature join — the knn_graph/pq contract: a
    zero-norm pair would otherwise score cos = 0/0 = NaN, which both Spark
    and DuckDB order ABOVE the threshold (false contamination flags), and
    NULL/misdimensioned rows would silently report clean.  Excluded corpus
    rows are absent from the output (not "clean").  ``dim`` defaults to the
    modal vector size of the EVAL side (benchmark-sized scan).

    Scale shape: the eval side is benchmark-sized, so its (signature,
    vector) table BROADCASTS; the corpus is scanned once, each row
    computing its hyperplane signature row-locally and joining only the
    same-bucket eval rows — no corpus shuffle, no self-join.  Returns one
    row per rankable corpus id: (id, n_eval_hits, best_sim,
    is_contaminated)."""
    if dim is None:
        dim = _modal_dim(eval_df, vec_col)

    def _rankable(df: DataFrame) -> DataFrame:
        return df.filter(
            F.col(vec_col).isNotNull()
            & (F.size(F.col(vec_col)) == dim)
            & (_norm(F.col(vec_col)) > 0)
        )

    corpus = _rankable(corpus)
    eval_df = _rankable(eval_df)
    planes = _hyperplanes(dim, n_planes, seed)
    sig = hyperplane_signature(F.col(vec_col), planes)
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("__nc"),
        sig.alias("sig"),
    )
    e = eval_df.select(
        F.col(vec_col).alias("ev"),
        _norm(F.col(vec_col)).alias("__ne"),
        sig.alias("sig"),
    )
    hits = (
        c.join(F.broadcast(e), "sig")
        .withColumn(
            "__sim",
            _cos_normed("v", "ev", "__nc", "__ne", round_digits),
        )
        .filter(F.col("__sim") >= threshold)
        .groupBy("id")
        .agg(F.count("*").alias("n_eval_hits"), F.max("__sim").alias("best_sim"))
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_eval_hits", F.lit(0)).alias("n_eval_hits"),
            "best_sim",
            F.col("n_eval_hits").isNotNull().alias("is_contaminated"),
        )
    )


def pq_seeded_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
) -> DataFrame:
    """Product-quantization approximate top-k with Asymmetric Distance
    Computation: the D dims split into ``m`` subspaces; each subspace gets a
    DETERMINISTIC data-sampled codebook (the subvectors of the ``n_codes``
    lowest-id vectors, same seeding as the IVF coarse quantizer, so the
    whole operator is SQL-expressible and oracle-checkable); every corpus
    vector encodes as ``m`` code ids; the query pre-computes one
    (code → distance) table per subspace and a vector's estimated distance
    is the sum of ``m`` table lookups — never a full-dimension computation
    per row at query time.

    Scale shape: encoding is one codegen'd projection (per-subspace argmin
    over ``n_codes`` literal centroids — same expression family as
    ``seeded_cell_expr``); at rest a corpus row is ``m`` small ints
    (persist the code columns and the scan reads ~``m`` bytes per vector
    instead of 4·D — the 64× compression that makes billion-vector scans
    feasible); the ADC tables are ``m × n_codes`` literals folded into the
    plan, so scoring adds no join at all; top-k is a TakeOrdered.

    Determinism: per-subspace distances round at 1e-9 before the argmin
    (ties to the lower code id) and the summed estimate rounds at 1e-9,
    with ``id_col`` as the total order tie-break.

    Profiled r12 (s_ann_pq, steady state, sf0.1): 1.19 s total = 0.70 s
    of driver-side build (the model-sized codebook collect + ADC-literal
    plan folding — the PQ contract) + ONE 0.40 s single-task save stage
    (the ADC scoring projection over the 1-row-group embeddings scan) +
    floor.  The scoring stage's CPU is below the ~0.3-0.5 s 32-task
    overhead of a local spread, so the narrow scan stays."""
    dim = len(query_vec)
    if dim % m:
        raise ValueError(f"query dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    # NULL / wrong-dimension embeddings are unrankable: the per-subspace
    # argmin would otherwise treat their NULL distances as smallest and
    # assign the first code, surfacing them INSIDE the top-k with a
    # fabricated finite distance — exclude them like the cosine operators
    # effectively do (NULL similarity sorts last under desc)
    df = df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
    seeds = seeded_codebook(df, id_col, vec_col, n_codes)
    est_terms = []
    for j in range(m):
        sub_seeds = [(sid, sv[j * sub : (j + 1) * sub]) for sid, sv in seeds]
        code = seeded_cell_expr(f"slice({vec_col}, {j * sub + 1}, {sub})", sub_seeds)
        qsub = [float(v) for v in query_vec[j * sub : (j + 1) * sub]]
        adc = {
            sid: _round_half_up(sum((q - c) ** 2 for q, c in zip(qsub, sv)))
            for sid, sv in sub_seeds
        }
        table = F.create_map(
            *[
                x
                for sid, d in adc.items()
                for x in (F.lit(sid).cast("long"), F.lit(float(d)))
            ]
        )
        est_terms.append(F.element_at(table, code))
    est = F.round(sum(est_terms[1:], est_terms[0]), 9)
    return (
        df.select(F.col(id_col), est.alias("est_dist"))
        .orderBy(F.col("est_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_rerank_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
) -> DataFrame:
    """Two-stage ANN: PQ/ADC shortlist → exact cosine rerank (the production
    retrieval shape — compressed codes answer "which ~50 of a billion", full
    vectors answer "which 10 of those 50", so recall comes back without ever
    scanning full vectors corpus-wide).

    Scale shape: stage 1 is :func:`pq_seeded_topk` — a TakeOrdered over
    ~``m`` bytes/vector of codes; its output is ``shortlist`` rows
    (metadata-sized), so the rejoin to fetch full vectors broadcasts the id
    list and at rest becomes ``shortlist`` point reads of the vector store;
    stage 2 computes exact cosine for ``shortlist`` rows only.  Raising
    ``shortlist`` trades one more stage-2 row per unit for recall — the
    ADC estimate never decides the final order.

    Determinism matches the exact path: cosine rounds at 1e-6 with
    ``id_col`` as the tie-break."""
    cand = pq_seeded_topk(df, query_vec, shortlist, id_col, vec_col, m, n_codes)
    qv = _vec_lit(query_vec)
    exact = df.join(F.broadcast(cand.select(id_col)), id_col).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), qv), 6).alias("cos_sim"),
    )
    return exact.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def _gate_cell_sizing(
    n_rows: int, n_cells: int, max_rows_per_cell: int, allow_oversized_cells: bool
) -> None:
    """The in-cell self-join is O(rows_per_cell²); an undersized codebook at
    corpus scale silently degrades toward the full cartesian (16 cells over
    10⁹ rows ≈ (N/16)² comparisons per cell).  Like the
    ``ngram_jaccard_pairs`` cartesian gate, scale hazards must be opted into
    explicitly, never defaulted into."""
    est = n_rows / max(n_cells, 1)
    if est > max_rows_per_cell and not allow_oversized_cells:
        raise ValueError(
            f"semantic_dedup cell sizing: ~{est:,.0f} rows/cell over {n_cells} "
            f"cells exceeds max_rows_per_cell={max_rows_per_cell:,}; the "
            "in-cell self-join is O(rows_per_cell**2) — size the codebook to "
            "~sqrt(N) cells, or pass allow_oversized_cells=True / a larger "
            "max_rows_per_cell if the comparison volume is intended"
        )


# Local-master in-cell joins broadcast the whole build side — a corpus-wide
# (id, vector, norm) projection.  Gate that on the MEASURED row count the
# sizing gates already produce, not the master string alone (r11 verdict):
# 2M rows of (id, 64-double vector, norm) ≈ 1.2 GiB framed — comfortably
# under Spark's 8 GiB / 512M-row broadcast cap and the local driver heap,
# and far above every gated cell layout this harness runs.  Above the bound
# (or when no count is available) fall through to the plain cell-keyed
# shuffle join, the cluster-scale shape.
_LOCAL_BROADCAST_MAX_ROWS = 2_000_000


def _in_cell_join(
    a: DataFrame, b: DataFrame, key: str, n_build_rows: int | None
) -> DataFrame:
    """The in-cell pair join.  On local masters with a provably bounded
    build side: widen the probe side to core width and BROADCAST the build
    side, so pair production + interpreted cosine + any map-side
    WindowGroupLimit partial run at core width and no pair-sized frame
    crosses an exchange (the plain cell join AQE-coalesces its byte-tiny
    exchanges to 1-2 partitions, serializing all O(Σ|cell|²) arithmetic).
    Everywhere else — a master ``session.is_local_master`` refuses (real
    clusters, ``local-cluster[...]``) or an unknown / over-bound
    build-side count — the cell-keyed shuffle join."""
    sc = a.sparkSession.sparkContext
    if (
        is_local_master(sc.master)
        and n_build_rows is not None
        and n_build_rows <= _LOCAL_BROADCAST_MAX_ROWS
    ):
        return a.repartition(sc.defaultParallelism).join(F.broadcast(b), key)
    return a.join(b, key)


def semantic_dedup_assigned(
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    threshold: float = 0.9,
    round_digits: int = 6,
    n_cells: int | None = None,
    max_rows_per_cell: int = 100_000,
    allow_oversized_cells: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Core SemDeDup dominance rule over a frame that ALREADY carries its
    cell assignment — the path a persisted cell layout takes (assignment read
    back as a partition column, zero per-query argmin recompute; same
    materialize-once pattern as the IVF layout).  Pass ``n_cells`` so the
    sizing gate can run without an extra distinct-count job.  ``n_rows``
    (the input row count, when the caller already measured it) gates the
    local-master broadcast join; with neither ``n_cells`` nor ``n_rows``
    the conservative cell-keyed shuffle join is used."""
    if n_cells is not None:
        if n_rows is None:
            n_rows = assigned.count()
        _gate_cell_sizing(
            n_rows, n_cells, max_rows_per_cell, allow_oversized_cells
        )
    # Precompute each row's norm ONCE: the in-cell join scores O(|cell|²)
    # pairs, and recomputing both norms per pair triples the dominant cost
    # (higher-order-function aggregates evaluate interpreted).  Hoisting is
    # bit-identical — same expression, same operand order, same rounding —
    # so the oracle match is unaffected.
    a, b = (
        assigned.select(
            F.col(cell_col).alias("__cell"), F.col(id_col).alias(f"id_{s}"),
            F.col(vec_col).alias(f"v_{s}"), _norm(F.col(vec_col)).alias(f"__n{s}"),
        )
        for s in "ab"
    )
    # Broadcast-at-core-width on local masters, size-gated — see
    # _in_cell_join (the broadcast side is the whole assigned projection;
    # the previous widen-the-pair-frame fix moved 267 MB of paired vectors
    # through an exchange from a 2-task map stage).  On a real cluster, or
    # above the row bound, the cell-keyed shuffle join is the right plan.
    paired = _in_cell_join(a, b, "__cell", n_rows)
    scored = paired.filter(F.col("id_b") < F.col("id_a")).select(
        F.col("id_a"), _cos_normed("v_a", "v_b", "__na", "__nb", round_digits).alias("cos_sim")
    )
    dominated = (
        scored.filter(F.col("cos_sim") >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return assigned.join(dominated, on=id_col, how="left_anti")


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    threshold: float = 0.9,
    round_digits: int = 6,
    max_rows_per_cell: int = 100_000,
    allow_oversized_cells: bool = False,
    target_rows_per_cell: int = DEFAULT_TARGET_ROWS_PER_CELL,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    2303.09540): cluster the embedding space coarsely, then drop items that
    are semantically redundant WITHIN their cluster — near-identical meaning,
    not just near-identical bytes, which is what embedding-space dedup adds
    over MinHash/SimHash.

    Policy: assign every vector to a deterministic seeded cell
    (``seeded_codebook``); inside each cell a vector is dropped iff a
    LOWER-id vector sits at cosine ≥ threshold (dominance rule — the
    keep-lowest-id analog of SemDeDup's keep-one-per-near-dup-group, chosen
    over transitive clustering so the whole operator stays one join +
    anti-join, fully SQL-expressible for the oracle).

    Scale shape: the candidate self-join is cell-bounded O(Σ|cell|²), never
    corpus-global — size the codebook ~√N cells at 100 TB and each cell's
    comparison set stays constant; the anti-join on the dropped-id set is a
    broadcast in practice (near-dups are sparse).  An undersized codebook is
    a scale trap (16 cells over 10⁹ rows ≈ (N/16)² comparisons per cell), so
    ``max_rows_per_cell`` gates it: exceeding the bound raises unless
    ``allow_oversized_cells=True``.  The DEFAULT cells are hyperplane-LSH
    signature buckets over ``n_planes ≈ log2(N / target_rows_per_cell)``
    planes (:func:`semantic_dedup_lsh` — one more plane per corpus
    doubling, so buckets grow with the corpus at O(N·logN·dim) assignment
    cost; an auto-sized literal codebook would assign at O(N²·dim/target),
    the measured 100× trap); pass a literal ``n_centroids`` to pin a
    seeded codebook (oracle determinism).  Appends ``cell`` to the kept
    rows so downstream sampling can stratify by semantic region;
    unrankable rows (NULL / wrong-dimension vectors) are KEPT on both
    paths — they cannot dominate or be dominated — with a NULL cell on
    the default path."""
    if n_centroids is None:
        # DEFAULT: hyperplane-LSH cells, same dominance rule.  The LSH
        # sibling's contract EXCLUDES unrankable rows, but the seeded path
        # here keeps them (NULL cell never joins, the anti-join retains
        # them) — re-append them so the default and pinned paths agree on
        # the kept-row set.
        dim = _modal_dim(df, vec_col)
        rankable = F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
        kept = semantic_dedup_lsh(
            df.filter(rankable),
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            target_rows_per_cell=target_rows_per_cell,
            round_digits=round_digits,
            max_rows_per_cell=max_rows_per_cell,
            allow_oversized_cells=allow_oversized_cells,
            dim=dim,
        )
        rest = df.filter(~rankable).withColumn("cell", F.lit(None).cast("long"))
        return kept.unionByName(rest)
    seeds = seeded_codebook(df, id_col, vec_col, n_centroids)
    # checkpoint EAGERLY: the argmin-over-codebook expression would
    # otherwise re-evaluate once per self-join side plus once for the final
    # anti-join — and counting the materialized blocks gives the sizing
    # gate its N without a second corpus scan (the gate still fires BEFORE
    # any join work starts).  _spread: the argmin is interpreted
    # O(C·dim)/row CPU that a 1-2 partition local scan would serialize.
    assigned = _spread(df).withColumn(
        "cell", seeded_cell_expr(vec_col, seeds)
    ).localCheckpoint(eager=True)
    n_rows = assigned.count()
    _gate_cell_sizing(
        n_rows, n_centroids, max_rows_per_cell, allow_oversized_cells
    )
    return semantic_dedup_assigned(
        assigned, id_col, vec_col, "cell", threshold, round_digits,
        n_rows=n_rows,
    )


def semantic_dedup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int | None = None,
    target_rows_per_cell: int = DEFAULT_TARGET_ROWS_PER_CELL,
    seed: int = 42,
    round_digits: int = 6,
    dim: int | None = None,
    max_rows_per_cell: int = 100_000,
    allow_oversized_cells: bool = False,
) -> DataFrame:
    """SemDeDup with HYPERPLANE-bucketed cells — the variant whose cell
    count scales past the plan-literal codebook boundary.  The seeded
    codebook embeds every centroid as a literal array in the plan, which
    is oracle-friendly but caps out around ~10³ cells (plan size grows
    C×dim literals); random-hyperplane bucketing reaches 2^n_planes cells
    from only ``n_planes × dim`` literals, so a 10⁹-row corpus gets its
    millions of cells at constant plan cost.  Same dominance rule as
    :func:`semantic_dedup` (drop iff a lower-id vector in the same bucket
    sits at cosine ≥ threshold); the recall trade moves from cell
    boundaries to hyperplane boundaries.

    ``n_planes`` defaults to ``ceil(log2(N / target_rows_per_cell))`` —
    one count, buckets grow linearly with the corpus, in-bucket O(rows²)
    work stays O(N · target).  Deterministic planes (seeded Gaussian) and
    sign-bit arithmetic are SQL-replayable, so this stays oracle-checked.
    Appends ``cell`` (the signature bucket)."""
    df, dim = _rankable(df, vec_col, dim)
    if n_planes is None:
        n_rows = df.count()
        n_planes = max(
            1, math.ceil(math.log2(max(2.0, n_rows / target_rows_per_cell)))
        )
    if n_planes < 1:
        raise ValueError(f"n_planes must be >= 1, got {n_planes}")
    planes = _hyperplanes(dim, n_planes, seed)
    # _spread: n_planes interpreted dot products per row — the dominant CPU
    # of the whole operator at sf0.1 (measured multi-second on the 2-task
    # local scan) — must not serialize on the input's 1-2 scan partitions
    assigned = _spread(df).withColumn(
        "cell", hyperplane_signature(F.col(vec_col), planes).cast("long")
    ).localCheckpoint(eager=True)
    n_rows = _gate_measured_occupancy(
        assigned, "cell", "semantic_dedup_lsh", max_rows_per_cell,
        allow_oversized_cells,
    )
    return semantic_dedup_assigned(
        assigned, id_col, vec_col, "cell", threshold, round_digits,
        n_rows=n_rows,
    )


def _gate_measured_occupancy(
    assigned: DataFrame,
    cell_col: str,
    op: str,
    max_rows_per_cell: int,
    allow_oversized_cells: bool,
) -> int:
    """Hyperplane buckets skew when the embedding distribution has a
    dominant mean direction (most rows share most sign bits), so the LSH
    paths gate on MEASURED occupancy, not the N/cells estimate the seeded
    paths use — one cheap agg over the checkpointed assignment, fired
    BEFORE the O(rows_per_cell²) in-cell join starts.  With
    ``allow_oversized_cells`` the agg itself is skipped (its result would
    be discarded) for one cheap count over the checkpointed assignment.
    Returns the TOTAL row count — callers reuse it to size-gate the local
    broadcast join without a second job."""
    if allow_oversized_cells:
        return assigned.count()
    row = (
        assigned.groupBy(cell_col)
        .count()
        .agg(F.max("count"), F.sum("count"))
        .first()
    )
    biggest = int(row[0] or 0)
    total = int(row[1] or 0)
    if biggest > max_rows_per_cell:
        raise ValueError(
            f"{op} cell sizing: largest signature bucket holds "
            f"{biggest:,} rows (> max_rows_per_cell={max_rows_per_cell:,}); "
            "the in-cell self-join is O(rows_per_cell**2).  Raise n_planes "
            "(each plane halves expected bucket size), center the embeddings "
            "(a dominant mean direction collapses sign bits), or pass "
            "allow_oversized_cells=True if the comparison volume is intended"
        )
    return total


def knn_graph(
    df: DataFrame,
    k: int = 3,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_rows_per_cell: int = 100_000,
    allow_oversized_cells: bool = False,
    dim: int | None = None,
    n_probe: int = 1,
    neg_label_col: str | None = None,
    target_rows_per_cell: int = DEFAULT_TARGET_ROWS_PER_CELL,
    n_planes: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate k-NN graph over the embedding corpus: every vector's
    top-``k`` cosine neighbors WITHIN its cell — the
    building block for graph-based dedup clustering, label propagation and
    diversity-aware sampling.  Cell-bounded means a node's candidate set is
    its cell, not the corpus (the SemDeDup blocking argument applied to
    graph construction); recall at the cell boundary is the documented
    trade — set ``n_probe > 1`` and each node ALSO searches its runner-up
    cells (candidate volume grows n_probe-fold, still cell-bounded).

    Cell assignment has two modes.  With ``n_centroids`` set, cells are
    the seeded literal codebook (oracle-friendly; assignment cost
    O(N·C·dim), fine for a pinned handful of cells).  With
    ``n_centroids=None`` (the DEFAULT), cells are random-hyperplane LSH
    signatures over ``n_planes ≈ log2(N / target_rows_per_cell)`` planes —
    the :func:`semantic_dedup_lsh` scheme.  The auto-sized SEEDED codebook
    was the measured scale trap: C grows as N/target, so assignment alone
    is O(N²·dim/target) — SCALE_CHECK's 100× pagerank leg clocked the
    second decade at α≈1.25 before this path switched to LSH (O(N·logN·dim)
    assignment at constant plan cost).  Under LSH, multiprobe flips the
    ``n_probe - 1`` lowest-margin sign bits instead of ranking centroids
    (:func:`lsh_probe_cells_expr`).

    With ``neg_label_col`` set the graph becomes HARD-NEGATIVE MINING for
    contrastive training: neighbors are restricted to rows whose label
    DIFFERS from the anchor's (the label filter applies BEFORE top-k —
    post-filtering an unlabeled top-k would under-fill k), and rows with a
    NULL label are excluded from both sides (no label → neither anchor nor
    negative).  Same plan shape: the inequality is one more codegen'd
    predicate on the in-cell join.

    Scale shape mirrors :func:`semantic_dedup`: one eager-checkpointed cell
    assignment (argmin evaluated once, sizing gate on the materialized
    count), an in-cell self-join with per-row norms hoisted, then a
    per-node top-``k`` — ``row_number() <= k`` compiles to WindowGroupLimit,
    so each mapper keeps a k-row heap per node and the exchange carries
    O(N·k) rows, not the O(Σ|cell|²) pair set."""
    # NULL embeddings would seed/assign as NULL cells and silently vanish;
    # wrong-dimension vectors would get NULL cell distances; zero-norm
    # vectors would emit cos_sim=NULL edges ranked NULLS-LAST inside small
    # cells' top-k — exclude all three as unrankable, the same contract as
    # pq_seeded_topk.  The dimension comes from the MODAL vector size (or
    # the caller), never from the lowest-id row: one misdimensioned seed
    # row must not redefine "wrong dimension" for the whole corpus, and an
    # empty/all-NULL corpus raises a clear ValueError instead of IndexError.
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    if neg_label_col is not None:
        df = df.filter(F.col(neg_label_col).isNotNull())
    df, dim = _rankable(df, vec_col, dim)
    if n_centroids is None:
        # DEFAULT path: hyperplane-LSH cells.  One count sizes the plane
        # set (buckets grow linearly with the corpus, in-cell join volume
        # stays O(N · target)); assignment is n_planes dot products per
        # row — O(N·logN·dim) total, vs the auto-sized seeded codebook's
        # O(N²·dim/target) nearest-of-C scan (the measured 100× hazard).
        # The count runs only when auto-sizing (semantic_dedup_lsh's rule):
        # a pinned plane set must not pay a corpus pass for it.
        if n_planes is None:
            n_rows = df.count()
            if n_rows == 0:
                raise ValueError(
                    f"no rankable vectors remain in {vec_col!r} at dimension {dim}"
                )
            n_planes = max(
                1, math.ceil(math.log2(max(2.0, n_rows / target_rows_per_cell)))
            )
        if n_planes < 1:
            raise ValueError(f"n_planes must be >= 1, got {n_planes}")
        if n_probe > n_planes + 1:
            raise ValueError(
                f"n_probe={n_probe} exceeds n_planes + 1 = {n_planes + 1}: "
                "multiprobe flips one sign bit per extra probe, so at most "
                "n_planes runner-up cells exist (raise n_planes or lower "
                "n_probe)"
            )
        probes_col = lsh_probe_cells_expr(
            vec_col, _hyperplanes(dim, n_planes, seed), n_probe
        )
    else:
        seeds = seeded_codebook(df, id_col, vec_col, n_centroids)
        if not seeds:
            raise ValueError(
                f"no rankable vectors remain in {vec_col!r} at dimension {dim}"
            )
        probes_col = probe_cells_expr(vec_col, seeds, n_probe)
    # one checkpointed assignment carries the probe LIST; the primary cell
    # is its first element, so n_probe == 1 degenerates to the plain
    # single-cell graph with an identical plan shape.  _spread: the probe
    # argmin is interpreted O(C·dim)/row CPU — don't serialize it on the
    # input's 1-2 local scan partitions.
    assigned = (
        _spread(df)
        .withColumn("__probes", probes_col)
        .withColumn("__cell", F.col("__probes")[0])
        .localCheckpoint(eager=True)
    )
    if n_centroids is None:
        n_rows_assigned = _gate_measured_occupancy(
            assigned, "__cell", "knn_graph", max_rows_per_cell,
            allow_oversized_cells,
        )
    else:
        n_rows_assigned = assigned.count()
        _gate_cell_sizing(
            n_rows_assigned, n_centroids, max_rows_per_cell, allow_oversized_cells
        )
    # source side probes its n_probe nearest cells (boundary-recall pass);
    # neighbors stay in their PRIMARY cell, so a pair appears at most once
    a_cols = [
        F.explode("__probes").alias("__cell"),
        F.col(id_col).alias("__src"),
        F.col(vec_col).alias("__va"),
        _norm(F.col(vec_col)).alias("__na"),
    ]
    b_cols = [
        F.col("__cell"),
        F.col(id_col).alias("__nbr"),
        F.col(vec_col).alias("__vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    ]
    if neg_label_col is not None:
        a_cols.append(F.col(neg_label_col).alias("__la"))
        b_cols.append(F.col(neg_label_col).alias("__lb"))
    a = assigned.select(*a_cols).filter(F.col("__na") > 0)
    b = assigned.select(*b_cols).filter(F.col("__nb") > 0)
    # Same size-gated local broadcast shape as semantic_dedup_assigned —
    # see _in_cell_join (the plain cell join AQE-coalesces to one partition
    # and the top-k partial drags the cosine into that one task — measured
    # 2.0 s of s_knn_graph's 2.6 s; the interim widen-of-the-pair-frame fix
    # shuffled 134 MB of paired vectors from a 1-task map stage).  On a
    # cluster, or above the row bound, the cell-keyed shuffle join.
    joined = _in_cell_join(a, b, "__cell", n_rows_assigned)
    pairs = joined.filter(F.col("__nbr") != F.col("__src"))
    if neg_label_col is not None:
        pairs = pairs.filter(F.col("__la") != F.col("__lb"))
    pairs = pairs.select(
        F.col("__src"),
        F.col("__nbr"),
        _cos_normed("__va", "__vb", "__na", "__nb", round_digits).alias("cos_sim"),
    )
    w = Window.partitionBy("__src").orderBy(F.desc("cos_sim"), F.col("__nbr"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__src").alias(id_col),
            F.col("__nbr").alias("nbr_id"),
            "cos_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def hard_negatives(
    df: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_probe: int = 1,
    **kwargs,
) -> DataFrame:
    """Hard-negative mining for contrastive training: each anchor's top-``k``
    most-similar vectors with a DIFFERENT label — the negatives that sit
    closest to the decision boundary, which is where contrastive losses get
    their gradient (in-batch random negatives are mostly easy).  A labeled
    restriction of :func:`knn_graph` (same cell-bounded candidate
    generation, label filter before top-k); output renames ``nbr_id`` to
    ``neg_id``."""
    return knn_graph(
        df,
        k=k,
        n_centroids=n_centroids,
        id_col=id_col,
        vec_col=vec_col,
        n_probe=n_probe,
        neg_label_col=label_col,
        **kwargs,
    ).withColumnRenamed("nbr_id", "neg_id")


def _walk_edges(
    df: DataFrame,
    graph: DataFrame | None,
    k: int,
    n_centroids: int | None,
    id_col: str,
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """The ``(__src, __nbr)`` edges a graph walk runs over.  ``graph``
    (``(id_col, nbr_id)`` rows — e.g. a persisted knn-graph layout read back
    from parquet) is re-attached as is: at 100 TB the graph build dominates
    every consumer, so it materializes ONCE per (corpus, k, cells, n_probe)
    and rank/label/audit queries re-attach (the IVF/bucketed-layout
    lifecycle).  Otherwise :func:`knn_graph` builds it once, lineage-cut
    because every round consumes it."""
    cols = (F.col(id_col).alias("__src"), F.col("nbr_id").alias("__nbr"))
    if graph is not None:
        return graph.select(*cols)
    return knn_graph(
        df, k=k, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col, n_probe=n_probe
    ).select(*cols).localCheckpoint(eager=False)


def _node_set(edges: DataFrame, a: str, b: str, out: str) -> DataFrame:
    """The distinct ids on either end of an edge frame, as one ``out`` column."""
    return edges.select(F.col(a).alias(out)).union(edges.select(F.col(b).alias(out))).distinct()


def _undirected_edges(edges: DataFrame, id_col: str) -> DataFrame:
    """The DISTINCT undirected ``(u < v)`` edge set of a directed ``(id_col,
    nbr_id)`` frame, self-loops dropped; lineage-cut, every consumer reads
    it more than once."""
    return (
        edges.select(
            F.least(id_col, "nbr_id").alias("u"),
            F.greatest(id_col, "nbr_id").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _undirected_degree(und: DataFrame) -> DataFrame:
    """``(node, degree)``: each node's edge count in an undirected ``(u, v)`` set."""
    return (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def label_propagation(
    df: DataFrame,
    seed_label: Column,
    k: int = 3,
    n_centroids: int | None = None,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    graph: DataFrame | None = None,
) -> DataFrame:
    """Semi-supervised label propagation over the approximate k-NN graph:
    seeded nodes keep their label; every other node takes, per round, the
    MAJORITY label among its neighbors' current labels (NULL-labeled
    neighbors abstain; vote ties break to the smallest label; a round with
    no labeled neighbors keeps the previous label) — how a small
    hand-labeled set fans out over a large corpus (topic/quality/domain
    tagging) without training a model.

    Determinism: votes are integer counts; the per-node winner is a
    ``row_number`` over (count DESC, label ASC) — no floats anywhere, so
    the full ``n_iters`` walk is SQL-unrollable and oracle-checked.

    Scale shape: the graph builds ONCE (cell-bounded, O(N·k) edges —
    :func:`knn_graph`; or pass ``graph=`` to re-attach a persisted layout)
    and each round is one edge×label join (k-regular: ≤ N·k rows) plus one
    (node, label) count agg; the label frame is lineage-cut per round (the
    iterative-algorithm pattern k-means uses) so round t+1's plan does not
    replay round t.  Output ``(id, label, origin)`` with origin ∈
    seed/propagated/unlabeled."""
    g = _walk_edges(df, graph, k, n_centroids, id_col, vec_col, n_probe)
    seeds = df.select(
        F.col(id_col).alias("__id"), seed_label.alias("__seed")
    ).localCheckpoint(eager=False)
    labels = seeds.select("__id", "__seed", F.col("__seed").alias("__lab"))
    w = Window.partitionBy("__src").orderBy(F.desc("__c"), "__vote")
    for _ in range(n_iters):
        votes = (
            g.join(
                labels.filter(F.col("__lab").isNotNull()).select(
                    F.col("__id").alias("__nbr"), F.col("__lab").alias("__vote")
                ),
                "__nbr",
            )
            .groupBy("__src", "__vote")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        win = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("__src").alias("__id"), F.col("__vote").alias("__win"))
        )
        labels = (
            labels.join(win, "__id", "left")
            .select(
                "__id",
                "__seed",
                F.coalesce("__seed", "__win", "__lab").alias("__lab"),
            )
            .localCheckpoint(eager=False)
        )
    origin = (
        F.when(F.col("__seed").isNotNull(), F.lit("seed"))
        .when(F.col("__lab").isNotNull(), F.lit("propagated"))
        .otherwise(F.lit("unlabeled"))
    )
    return labels.select(
        F.col("__id").alias(id_col), F.col("__lab").alias("label"), origin.alias("origin")
    )


def graph_triangles(edges: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Per-node triangle count + local clustering coefficient over a
    directed edge frame ``(id_col, nbr_id)`` — the combinatorics behind
    the s_graph_triangles registry query, shared with the scale harness.

    The directed edges collapse to a DISTINCT undirected (u < v) set;
    triangles enumerate ONCE as ordered (a < b < c) wedges + a semi-join
    probe (Σ deg² work — O(N·k²) on a k-regular graph, never corpus²);
    ``clustering_ppm`` is the half-up integer ppm of ``2·triangles /
    (degree·(degree−1))``, 0 when degree < 2."""
    und = _undirected_edges(edges, id_col)
    wedges = (
        und.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .join(und.select(F.col("u").alias("a"), F.col("v").alias("c")), "a")
        .filter(F.col("b") < F.col("c"))
    )
    tris = wedges.join(
        und.select(F.col("u").alias("b"), F.col("v").alias("c")),
        ["b", "c"],
        "left_semi",
    )
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return _undirected_degree(und).join(per_node, "node", "left").select(
        F.col("node").alias(id_col),
        "degree",
        F.coalesce("triangles", F.lit(0).cast("long")).alias("triangles"),
        # coalesce INSIDE the expr: the bare name resolves to the
        # pre-coalesce join column (NULL for triangle-free nodes)
        F.expr(
            "CASE WHEN degree < 2 THEN 0L ELSE"
            " (cast(coalesce(triangles, 0) as decimal(38,0)) * 4000000"
            "  + degree * (degree - 1))"
            " div (cast(degree as decimal(38,0)) * (degree - 1) * 2) END"
        ).alias("clustering_ppm"),
    )


def _rank_walk(
    g: DataFrame, n_iters: int, damping: float, flags: DataFrame | None = None
) -> DataFrame:
    """The damped PageRank walk over ``(__src, __nbr)`` edges: ``(__id,
    __r)``, plus ``__is_seed`` when ``flags`` (``(__id, __is_seed)`` rows)
    names a seed set that alone receives teleport mass.  Without ``flags``
    every graph node is a seed — global PageRank — and no seed join,
    column or CASE enters the plan."""
    deg = g.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
    edges = g.join(deg, "__src").localCheckpoint(eager=False)
    nodes, keep = _node_set(g, "__src", "__nbr", "__id"), ["__id"]
    if flags is not None:
        nodes = nodes.join(flags, "__id", "left").select(
            "__id", F.coalesce("__is_seed", F.lit(False)).alias("__is_seed")
        )
        keep.append("__is_seed")
    nodes = nodes.localCheckpoint(eager=True)
    n = (nodes if flags is None else nodes.filter(F.col("__is_seed"))).count()
    if n == 0:
        raise ValueError(
            "knn graph is empty: no edges to rank over"
            if flags is None
            else "personalized_pagerank: no graph node satisfies seed_pred"
        )

    def teleport(mass: Column) -> Column:  # seeds only; every node without flags
        return mass if flags is None else F.when(F.col("__is_seed"), mass).otherwise(F.lit(0.0))

    # teleport/damping literals come from the SAME python floats the oracle
    # interpolates via repr() — 1-0.85 is 0.15000000000000002, not 0.15
    tele, damp = 1.0 - damping, float(damping)
    ranks = nodes.select(
        *keep, teleport(F.round(F.lit(1.0) / F.lit(float(n)), 12)).alias("__r")
    )
    for _ in range(n_iters):
        contrib = edges.join(
            ranks.select(F.col("__id").alias("__src"), "__r"), "__src"
        ).select(
            "__nbr", F.round(F.col("__r") / F.col("__deg"), 12).alias("__c")
        )
        s = contrib.groupBy("__nbr").agg(
            F.sum(F.col("__c").cast("decimal(38,12)")).alias("__s")
        )
        ranks = (
            nodes.join(s, nodes["__id"] == s["__nbr"], "left")
            .select(
                *keep,
                F.round(
                    teleport(F.lit(tele) / F.lit(float(n)))
                    + F.lit(damp)
                    * F.coalesce(F.col("__s").cast("double"), F.lit(0.0)),
                    12,
                ).alias("__r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def pagerank(
    df: DataFrame,
    k: int = 3,
    n_centroids: int | None = None,
    n_iters: int = 2,
    damping: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    graph: DataFrame | None = None,
) -> DataFrame:
    """PageRank centrality over the approximate k-NN similarity graph —
    the corpus-level "representativeness" score: documents whose neighbors
    are themselves central rank high (canonical exemplars worth keeping /
    up-sampling), low-rank peripheral nodes are the outliers diversity-aware
    pruning inspects first.  The graph flavor of what
    :func:`semantic_dedup`'s per-cell argmax does locally.

    The walk is :func:`personalized_pagerank`'s with every graph node a
    seed, so the two share their numerics: per-edge contributions
    ``round(r/outdeg, 12)`` summed as exact ``decimal(38,12)``
    (order-independent), each round's rank one fixed-shape double
    expression rounded at 1e-12 — the full ``n_iters`` walk is SQL-unrolled
    and oracle-checked.

    Scale shape: graph builds ONCE (cell-bounded, O(N·k) edges; or pass
    ``graph`` — ``(id_col, nbr_id)`` edge rows, e.g. a persisted knn-graph
    layout read back from parquet — to skip the build entirely); per round
    one edge×rank join (≤ N·k rows, contributions map-side combined) plus
    one node-keyed agg; rank frame lineage-cut per round.  The node count
    is the only driver scalar.  Dangling mass (nodes with in-edges only)
    is dropped, not redistributed — documented PageRank simplification."""
    g = _walk_edges(df, graph, k, n_centroids, id_col, vec_col, n_probe)
    return _rank_walk(g, n_iters, damping).select(
        F.col("__id").alias(id_col), F.col("__r").alias("pagerank")
    ).orderBy(id_col)


def personalized_pagerank(
    df: DataFrame,
    seed_pred: Column,
    k: int = 3,
    n_centroids: int | None = None,
    n_iters: int = 2,
    damping: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    graph: DataFrame | None = None,
) -> DataFrame:
    """Personalized PageRank over the k-NN similarity graph: the random
    walk teleports ONLY to the seed set, so mass concentrates on the
    neighborhood of the seeds — the "more like these" expansion a corpus
    curator runs from a hand-picked exemplar set (topic expansion, seed-set
    retrieval augmentation, targeted up-sampling), where global
    :func:`pagerank` (this walk with every node a seed) answers "central
    to the WHOLE corpus" instead.

    The personalization vector is ``1/n_seeds`` on seeds, 0 elsewhere;
    non-seed nodes get NO teleport term, so unreachable components decay
    to 0 — the defining PPR property.  ``n_seeds`` is the only extra driver
    scalar; numerics and scale shape are :func:`pagerank`'s (``graph=``
    re-attaches a persisted layout the same way)."""
    g = _walk_edges(df, graph, k, n_centroids, id_col, vec_col, n_probe)
    flags = df.select(
        F.col(id_col).alias("__id"), seed_pred.cast("boolean").alias("__is_seed")
    )
    return _rank_walk(g, n_iters, damping, flags).select(
        F.col("__id").alias(id_col),
        F.col("__is_seed").alias("is_seed"),
        F.col("__r").alias("ppr"),
    ).orderBy(id_col)


def graph_degree_profile(edges: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """In-degree histogram + reciprocity audit over a directed edge frame
    ``(id_col, nbr_id)`` — the graph-quality report a curator reads before
    trusting any graph consumer: a top-k graph has constant OUT-degree by
    construction, so the IN-degree distribution is where hubs show up
    (a few nodes absorbing most edges = a collapsed embedding region or a
    boilerplate cluster), and low reciprocity means the "nearest neighbor"
    relation is one-directional — both are red flags for pagerank/label
    propagation built on top.

    Pure integers: per bucket ``n_nodes`` (nodes with that in-degree),
    ``recip_edges`` (their out-edges whose reverse edge exists) and
    ``recip_ppm`` (half-up ppm of recip_edges / out_edges; 0 when the
    bucket has no out-edges).  Scale shape: edges are O(N·k); reciprocity
    is one self-semi-join on the (src, dst) pair — no node×node blowup;
    the histogram is ≤ max-in-degree rows."""
    src = edges.select(F.col(id_col).alias("__node"), F.col("nbr_id").alias("__nbr"))
    nodes = _node_set(src, "__node", "__nbr", "__node")
    outd = src.groupBy("__node").agg(F.count(F.lit(1)).alias("__out"))
    ind = (
        src.groupBy(F.col("__nbr").alias("__node"))
        .agg(F.count(F.lit(1)).alias("__in"))
    )
    recip = (
        src.join(
            src.select(
                F.col("__nbr").alias("__node"), F.col("__node").alias("__nbr")
            ),
            ["__node", "__nbr"],
            "left_semi",
        )
        .groupBy("__node")
        .agg(F.count(F.lit(1)).alias("__recip"))
    )
    per = (
        nodes.join(outd, "__node", "left")
        .join(ind, "__node", "left")
        .join(recip, "__node", "left")
        .select(
            F.coalesce("__in", F.lit(0).cast("long")).alias("in_degree"),
            F.coalesce("__out", F.lit(0).cast("long")).alias("__out"),
            F.coalesce("__recip", F.lit(0).cast("long")).alias("__recip"),
        )
    )
    return per.groupBy("in_degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("__recip").cast("long").alias("recip_edges"),
        # outer bigint cast: the CASE mixes 0L with a decimal div result,
        # which would type the column decimal(38,0) — values compare equal
        # but every sibling ppm column is BIGINT (r9 ADVICE consistency)
        F.expr(
            "cast(CASE WHEN sum(__out) = 0 THEN 0L ELSE"
            " (cast(sum(__recip) as decimal(38,0)) * 2000000 + sum(__out))"
            " div (cast(sum(__out) as decimal(38,0)) * 2) END as bigint)"
        ).alias("recip_ppm"),
    )


def kcore_peel(
    edges: DataFrame, k: int = 2, n_rounds: int = 3, id_col: str = "vec_id"
) -> DataFrame:
    """Bounded k-core peeling over a directed edge frame ``(id_col,
    nbr_id)``: repeatedly drop nodes with undirected degree < ``k`` —
    survivors form the densely-interconnected core (mutually-similar
    duplicate clusters, topic cores worth up-sampling), the peeled
    periphery is where outlier-mining starts.  Complements
    :func:`graph_triangles` (local density) with SUBGRAPH-level density.

    ``n_rounds`` bounds the peel (the iterative-algorithm discipline:
    fixed, SQL-unrollable, oracle-checked); it equals the true k-core
    when some round removes nothing — at scale, loop on a metadata-sized
    "removed this round" count until 0 (the k-means/pagerank driver-loop
    pattern).  Pure integer degrees, no tie-breaks needed (peeling is
    order-independent within a round).

    Scale shape: the undirected edge set is O(N·k_graph) and each round
    is two semi-joins (edges alive on both ends) + one degree agg; the
    alive frame is lineage-cut per round.  Output: surviving nodes with
    their degree INSIDE the surviving subgraph."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    und = _undirected_edges(edges, id_col)

    def live_degree(alive: DataFrame) -> DataFrame:
        """``(node, degree)`` over the edges with both ends in ``alive``."""
        return _undirected_degree(
            und.join(alive.select(F.col("node").alias("u")), "u", "left_semi")
            .join(alive.select(F.col("node").alias("v")), "v", "left_semi")
        )

    alive = _node_set(und, "u", "v", "node")
    for _ in range(n_rounds):
        alive = (
            live_degree(alive).filter(F.col("degree") >= k).select("node")
            .localCheckpoint(eager=False)
        )
    return alive.join(live_degree(alive), "node", "left").select(
        F.col("node").alias(id_col),
        F.coalesce("degree", F.lit(0).cast("long")).alias("core_degree"),
    )


def kcore_peel_oracle_sql(
    edges_sql: str,
    k: int = 2,
    n_rounds: int = 3,
    id_col: str = "vec_id",
    extra_ctes: str | None = None,
) -> str:
    """DuckDB replay of :func:`kcore_peel` — the same unrolled peel rounds
    as materialized CTEs.  ``edges_sql`` must select ``({id_col},
    nbr_id)``; ``extra_ctes`` (a comma-joined CTE-list string) is
    prepended inside the WITH for callers whose edge frame is itself
    CTE-built (the knn-graph layout in ``_s_kcore_layout_oracle``).

    Every round CTE is ``AS MATERIALIZED``: each is referenced 2-3× and
    DuckDB re-inlines CTEs per reference — without the hint the unrolled
    chain re-expands exponentially (the BPE-oracle lesson, re-hit by
    k-core in r9)."""
    parts = [] if extra_ctes is None else [extra_ctes]
    parts += [
        "und AS MATERIALIZED (SELECT DISTINCT least(__i, __n) AS u,"
        f" greatest(__i, __n) AS v FROM (SELECT {id_col} AS __i, nbr_id AS __n"
        f" FROM ({edges_sql})) WHERE __i != __n)",
        "a0 AS MATERIALIZED (SELECT DISTINCT node FROM"
        " (SELECT u AS node FROM und UNION ALL SELECT v FROM und))",
    ]
    prev = "a0"
    for t in range(1, n_rounds + 1):
        parts.append(
            f"e{t} AS MATERIALIZED (SELECT u, v FROM und"
            f" WHERE u IN (SELECT node FROM {prev})"
            f" AND v IN (SELECT node FROM {prev}))"
        )
        parts.append(
            f"d{t} AS MATERIALIZED (SELECT node, count(*) AS degree FROM"
            f" (SELECT u AS node FROM e{t} UNION ALL SELECT v FROM e{t})"
            " GROUP BY node)"
        )
        parts.append(
            f"a{t} AS MATERIALIZED (SELECT node FROM d{t} WHERE degree >= {k})"
        )
        prev = f"a{t}"
    parts.append(
        f"ef AS MATERIALIZED (SELECT u, v FROM und"
        f" WHERE u IN (SELECT node FROM {prev})"
        f" AND v IN (SELECT node FROM {prev}))"
    )
    parts.append(
        "df AS (SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM"
        " (SELECT u AS node FROM ef UNION ALL SELECT v FROM ef)"
        " GROUP BY node)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT a.node AS {id_col}, coalesce(df.core_degree, 0) AS core_degree
FROM {prev} a LEFT JOIN df ON a.node = df.node
ORDER BY {id_col}
"""
    )


def knn_recall_audit(
    df: DataFrame,
    sample_mod: int = 125,
    k: int = 3,
    n_centroids: int | None = None,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    graph: DataFrame | None = None,
    built_k: int | None = None,
) -> DataFrame:
    """Recall@k audit of the cell-bounded k-NN graph against exact brute
    force, on a deterministic node sample (``id % sample_mod == 0``) —
    the measurement that says whether ``n_centroids``/``n_probe`` are
    sized right BEFORE label propagation / PageRank / hard-negative
    mining consume the graph.  Per sampled node: the exact top-k
    (restricted to the same rankable corpus the graph indexes), the
    graph's in-cell top-k, and ``recall = |approx ∩ exact| / |exact|``.

    Scale shape: the graph side is the artifact under audit — pass
    ``graph`` (stored ``(id_col, nbr_id, ...)`` edge rows, e.g. the
    ``ensure_knn_graph_layout`` parquet) to audit the persisted graph
    instead of rebuilding it; the
    exact side broadcasts only the SAMPLED queries against one corpus
    scan (the :func:`ann_batch_topk` shape) — audit cost is
    |sample| × N scored pairs, tuned by ``sample_mod``.  The recall
    division is two exact counts — the report is oracle-checked."""
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    if graph is None:
        graph = knn_graph(
            df, k=k, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
            n_probe=n_probe,
        )
    else:
        # A stored graph carries the k it was BUILT with; auditing it against
        # a different caller k silently inflates (graph k > k: more candidates
        # than slots) or deflates recall.  ``built_k`` from the layout's
        # _params.json is the authoritative check (the derived-store rule —
        # parameters come from the meta, never re-derived).  Without it, the
        # max out-degree is a one-sided witness: degree > k PROVES a bigger
        # build; degree < k is legal on sparse corpora/buckets where no cell
        # held k+1 rankable rows (r8 ADVICE — the old == check raised
        # spuriously there), so it passes.
        if built_k is not None:
            if built_k != k:
                raise ValueError(
                    f"knn_recall_audit: graph layout was built with k={built_k} "
                    f"but the audit was asked for recall@{k}; pass k={built_k} "
                    "or rebuild the layout at the desired k"
                )
        else:
            deg = (
                graph.groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("__d"))
                .agg(F.max("__d"))
                .first()
            )
            max_deg = int(deg[0] or 0)
            if max_deg > k:
                raise ValueError(
                    f"knn_recall_audit: stored graph's max out-degree is "
                    f"{max_deg} > recall@{k} — it was built with a larger k; "
                    "pass built_k from the layout's _params.json, or rebuild "
                    "the layout at the desired k"
                )
            if max_deg < k:
                # a dense smaller-k build and a sparse same-k build are
                # indistinguishable by degree — the audit proceeds (sparse
                # corpora are legal, r8 ADVICE) but the ambiguity is loud:
                # a smaller-k build here would silently deflate recall
                import warnings

                warnings.warn(
                    f"knn_recall_audit: stored graph's max out-degree is "
                    f"{max_deg} < recall@{k}; if the graph was built with a "
                    f"smaller k (not just a sparse corpus), recall will read "
                    "deflated — pass built_k from the layout's _params.json "
                    "to assert the build parameters",
                    stacklevel=2,
                )
    approx = graph.filter((F.col(id_col) % sample_mod) == 0).select(
        F.col(id_col).alias("__qid"), F.col("nbr_id").alias("__nbr")
    )
    # the same rankability contract knn_graph applies internally
    corpus, _ = _rankable(df, vec_col)
    corpus = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
    ).filter(F.col("__n") > 0)
    queries = corpus.filter((F.col("__id") % sample_mod) == 0).select(
        F.col("__id").alias("__qid"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    scored = corpus.join(F.broadcast(queries), F.col("__id") != F.col("__qid")).select(
        "__qid",
        F.col("__id").alias("__nbr"),
        _cos_normed("__v", "__qv", "__n", "__qn", round_digits).alias("__cos"),
    )
    w = Window.partitionBy("__qid").orderBy(F.desc("__cos"), "__nbr")
    exact = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("__qid", "__nbr")
        .localCheckpoint(eager=False)  # feeds both the denominator and the hit join
    )
    n_exact = exact.groupBy("__qid").agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        exact.join(approx, ["__qid", "__nbr"])
        .groupBy("__qid")
        .agg(F.count(F.lit(1)).alias("__h"))
    )
    return (
        n_exact.join(hits, "__qid", "left")
        .select(
            F.col("__qid").alias(id_col),
            "n_exact",
            F.coalesce("__h", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("__h", F.lit(0)).cast("long") / F.col("n_exact"),
                round_digits,
            ).alias("recall"),
        )
        .orderBy(id_col)
    )


def embedding_drift(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    split: Column | None = None,
) -> DataFrame:
    """Embedding-space drift report: per label, the cosine between the
    centroid of split A and the centroid of split B (plus both halves'
    sizes).  The embedding twin of the categorical/PSI drift operators —
    catches a re-trained encoder, a corrupted shard or a shifted domain
    whose token distributions still look identical.  ``split`` is any
    boolean column expression (time shard, ingest batch); the default
    even/odd id split is the self-calibration baseline (cos ≈ 1 expected;
    a label whose halves disagree is the anomaly).

    Scale shape: ONE posexplode pass over the corpus into a (label, half,
    pos) partial-avg aggregate — the shuffle carries labels × 2 × dim
    rows regardless of corpus size (the s_label_centroids shape); every
    downstream step runs on that metadata-sized frame.  No self-join of
    the corpus, no collect.

    Determinism: centroids are 1e-6-rounded avgs (exact same leaf the
    oracle computes); the cosine is 1e-12-rounded products summed as
    exact decimals, one sqrt, one rounded division — hash-comparable.
    NULL vectors are dropped; misdimensioned rows are excluded via the
    modal dimension (the :func:`_modal_dim` contract); a zero-norm
    CENTROID yields NULL cosine rather than NaN."""
    split = split if split is not None else (F.col(id_col) % 2 == 0)
    base, _ = _rankable(df, vec_col)
    ex = base.select(
        F.col(label_col).alias("__lab"),
        split.alias("__in_a"),
        F.posexplode(vec_col).alias("__pos", "__v"),
    )
    cent = ex.groupBy("__lab", "__in_a", "__pos").agg(
        F.round(F.avg(F.col("__v").cast("double")), 6).alias("__c"),
        F.count(F.lit(1)).alias("__n"),
    )
    a = cent.filter(F.col("__in_a")).select(
        "__lab", "__pos", F.col("__c").alias("__av"), F.col("__n").alias("__na")
    )
    b = cent.filter(~F.col("__in_a")).select(
        "__lab", "__pos", F.col("__c").alias("__bv"), F.col("__n").alias("__nb")
    )
    j = a.join(b, ["__lab", "__pos"])
    s = j.groupBy("__lab").agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        _exact_sum(F.col("__av") * F.col("__bv")).alias("__dot"),
        _exact_sum(F.col("__av") * F.col("__av")).alias("__aa"),
        _exact_sum(F.col("__bv") * F.col("__bv")).alias("__bb"),
    )
    den = F.sqrt(F.col("__aa")) * F.sqrt(F.col("__bb"))
    return s.select(
        F.col("__lab").alias(label_col),
        "n_a",
        "n_b",
        F.when(den > 0, F.round(F.col("__dot") / den, 6)).alias("centroid_cos"),
    ).orderBy(label_col)


def embedding_drift_oracle_sql(
    source_sql: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    split_sql: str | None = None,
) -> str:
    """DuckDB replay of :func:`embedding_drift`: same modal-dim filter,
    1e-6-rounded centroid avgs, 1e-12-rounded decimal-summed cosine."""
    split = split_sql or f"{id_col} % 2 = 0"
    return f"""WITH base0 AS (SELECT * FROM ({source_sql}) WHERE {vec_col} IS NOT NULL),
dim AS (SELECT d FROM (SELECT len({vec_col}) AS d, count(*) AS c FROM base0
        GROUP BY 1 ORDER BY c DESC, d LIMIT 1)),
base AS (SELECT * FROM base0 WHERE len({vec_col}) = (SELECT d FROM dim)),
ex AS (
  SELECT {label_col} AS lab, {split} AS in_a,
         unnest(list_transform(generate_series(1, len({vec_col})),
                i -> {{'pos': i - 1, 'v': CAST({vec_col}[i] AS DOUBLE)}})) AS u
  FROM base
),
cent AS (
  SELECT lab, in_a, u.pos AS pos, round(avg(u.v), 6) AS c, count(*) AS n
  FROM ex GROUP BY 1, 2, 3
),
j AS (
  SELECT a.lab, a.pos, a.c AS av, b.c AS bv, a.n AS na, b.n AS nb
  FROM cent a JOIN cent b ON a.lab = b.lab AND a.pos = b.pos
  WHERE a.in_a AND NOT b.in_a
),
s AS (
  SELECT lab, max(na) AS n_a, max(nb) AS n_b,
         CAST(sum(CAST(round(av * bv, 12) AS DECIMAL(38,12))) AS DOUBLE) AS dot,
         CAST(sum(CAST(round(av * av, 12) AS DECIMAL(38,12))) AS DOUBLE) AS aa,
         CAST(sum(CAST(round(bv * bv, 12) AS DECIMAL(38,12))) AS DOUBLE) AS bb
  FROM j GROUP BY 1
)
SELECT lab AS {label_col}, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CASE WHEN sqrt(aa) * sqrt(bb) > 0
            THEN round(dot / (sqrt(aa) * sqrt(bb)), 6) END AS centroid_cos
FROM s ORDER BY {label_col} NULLS FIRST"""


def kmeans_refine(
    df: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    round_digits: int = 6,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Lloyd's k-means over the embedding corpus: ``n_iters`` rounds of
    assign-to-nearest-centroid + recompute-centroid-means, seeded by the
    deterministic lowest-id codebook (:func:`seeded_codebook`) so the whole
    run — including every intermediate centroid — is SQL-expressible and
    oracle-checkable.  Returns ``(centroids, assignments)`` where
    assignments carry ``(id, cluster_id, sq_dist)`` against the FINAL
    centroids.  This is the iterative upgrade of the zero-iteration seeded
    codebook the IVF/SemDeDup operators use: refined centroids give tighter
    cells, which directly improves their recall/pruning trade.

    Scale shape (the standard distributed Lloyd's): assignment is a
    codegen'd literal-centroid argmin projection (no join, no shuffle);
    the centroid update is ONE map-side-combined aggregate per iteration
    whose output is k×D rows — model-sized, so collecting it to the driver
    between iterations is the distributed-ML pattern (Spark MLlib does the
    same), not a hot-path collect.  Nothing corpus-sized ever shuffles;
    the corpus is scanned once per iteration plus once for the final
    assignment.

    Determinism across engines: distances round at 1e-9 before each argmin
    (ties → lower cluster id) and centroid components round at
    ``round_digits`` after each mean, so both engines iterate over
    IDENTICAL literal centroids.  Empty cells drop out (their id simply
    stops appearing), matching the plain Lloyd's behavior.

    Profiled r12 (stage attribution, steady state, sf0.1): total 2.05 s =
    11 sequential single-task jobs whose HEAVIEST stage is 196 ms of CPU
    (per-iteration agg ~140-220 ms, the rest ≤ 60 ms) plus the
    inter-job scheduling/planning gaps — the iterative contract's
    sequential-job floor.  Spreading sub-300 ms stages to core width pays
    the ~0.3-0.5 s 32-task stage overhead per round (the measured
    power_iteration_top rejection, same class), so the narrow shape
    stays."""
    df, dim = _rankable(df, vec_col, dim)
    cents = seeded_codebook(df, id_col, vec_col, n_centroids)
    if not cents:
        raise ValueError(
            f"no rankable vectors remain in {vec_col!r} at dimension {dim}"
        )
    for _ in range(n_iters):
        assigned = df.withColumn("__cell", seeded_cell_expr(vec_col, cents))
        rows = (
            assigned.select("__cell", F.posexplode(F.col(vec_col)).alias("__i", "__v"))
            .groupBy("__cell", "__i")
            .agg(F.round(F.avg(F.col("__v").cast("double")), round_digits).alias("__c"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(int(r["__cell"]), {})[int(r["__i"])] = float(r["__c"])
        cents = [
            (cid, [by_cell[cid][i] for i in range(dim)]) for cid in sorted(by_cell)
        ]
    best = seeded_cell_struct_expr(vec_col, cents)
    out = df.select(
        F.col(id_col),
        best.getField("sid").alias("cluster_id"),
        best.getField("d").alias("sq_dist"),
    )
    return cents, out


def _km_dist(dim: int, vecs: str, cents: str) -> str:
    """DuckDB rounded squared-euclidean between two list expressions —
    the SQL twin of :func:`seeded_cell_struct_expr`'s distance."""
    return (
        f"round(list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> (CAST({vecs}[i] AS DOUBLE) - CAST({cents}[i] AS DOUBLE))"
        f" * (CAST({vecs}[i] AS DOUBLE) - CAST({cents}[i] AS DOUBLE)))), 9)"
    )


def kmeans_cte_parts(
    corpus_sql: str,
    n_centroids: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_digits: int = 6,
) -> tuple[list[str], str]:
    """The unrolled Lloyd's iteration as DuckDB CTE strings: ``v`` (rankable
    corpus), ``c0`` (lowest-id seeds), then per-iteration assign (``a{i}``)
    and centroid-update (``c{i+1}``) CTEs, plus the final assignment
    ``af``.  Returns ``(parts, final_centroid_cte_name)`` so oracles that
    need the refined CENTROIDS (e.g. the kmeans-IVF probe) can build on the
    same walk :func:`kmeans_oracle_sql` checks."""

    def assign(src_v: str, src_c: str, out: str) -> str:
        d = _km_dist(dim, "a.v", "c.cent")
        return f"""{out} AS (
  SELECT id, v, cid AS cell, dd AS sq_dist FROM (
    SELECT a.id, a.v, c.cid, {d} AS dd,
           row_number() OVER (PARTITION BY a.id
                              ORDER BY {d} ASC, c.cid ASC) AS rn
    FROM {src_v} a CROSS JOIN {src_c} c
  ) WHERE rn = 1
)"""

    def update(src_a: str, out: str) -> str:
        return f"""{out} AS (
  SELECT cid, list(cmp ORDER BY i) AS cent FROM (
    SELECT cell AS cid, i, round(avg(CAST(v[i] AS DOUBLE)), {round_digits}) AS cmp
    FROM {src_a} CROSS JOIN generate_series(1, {dim}) AS g(i)
    GROUP BY cell, i
  ) GROUP BY cid
)"""

    parts = [
        f"v AS (SELECT {id_col} AS id, {vec_col} AS v FROM ({corpus_sql})"
        f" WHERE {vec_col} IS NOT NULL AND len({vec_col}) = {dim})",
        f"c0 AS (SELECT id AS cid, v AS cent FROM v ORDER BY id LIMIT {n_centroids})",
    ]
    for it in range(n_iters):
        parts.append(assign("v", f"c{it}", f"a{it}"))
        parts.append(update(f"a{it}", f"c{it + 1}"))
    parts.append(assign("v", f"c{n_iters}", "af"))
    return parts, f"c{n_iters}"


def kmeans_oracle_sql(
    corpus_sql: str,
    n_centroids: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_digits: int = 6,
) -> str:
    """DuckDB replay of :func:`kmeans_refine` final assignments, fully
    unrolled: seeds = lowest-id vectors, each iteration = argmin assignment
    (distance rounded 1e-9, ties → lower cid) + per-dimension mean rounded
    at ``round_digits`` — the identical literal-centroid contract, so both
    engines walk the same centroid sequence."""
    parts, _ = kmeans_cte_parts(
        corpus_sql, n_centroids, n_iters, id_col, vec_col, dim, round_digits
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id AS {id_col}, cell AS cluster_id, sq_dist FROM af"
    )


def ann_batch_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k neighbors for a BATCH of query vectors in one plan:
    broadcast the query set against the corpus, score cosine, keep the top k
    per query with ``row_number() <= k``.

    This is the shape batch inference/retrieval actually runs at scale — one
    query vector per call re-scans the corpus per query; the batch join scans
    it ONCE for all queries.  The query side broadcasts (queries ≪ corpus),
    so the corpus never shuffles for the join; the only exchange is the
    per-query top-k, and WindowGroupLimit keeps a k-row heap per query per
    mapper BEFORE that exchange, so the shuffle carries ≤ k rows per
    (mapper, query) — never the scored corpus.  Ties break by corpus id
    (deterministic, matching the single-query ``cosine_topk``)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"), F.col(query_vec_col).alias("__qv")
        )
    )
    scored = corpus.crossJoin(q).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qv")), round_digits).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(query_id_col, id_col, "cos_sim", F.col("__rn").alias("rank"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket on the hyperplane
    signature (near-identical vectors share all sign bits with high
    probability), verify exact cosine in-bucket."""
    dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    with_sig = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("__n"),  # once per row, not per pair
        hyperplane_signature(F.col(vec_col), planes).alias("sig"),
    )
    a = with_sig.select("sig", F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("__n").alias("__na"))
    b = with_sig.select("sig", F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("__n").alias("__nb"))
    return (
        a.join(b, "sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", _cos_normed("v_a", "v_b", "__na", "__nb", round_digits))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# --- int8 embedding quantization --------------------------------------------


def _with_int8_scales(corpus: DataFrame, vec_col: str) -> DataFrame:
    """``corpus`` plus ``__scales`` = per-dimension ``max|x|/127`` over the
    corpus: one posexplode → dim-sized max aggregate, collapsed to one
    sorted array (dim-sized collect inside the plan, not the driver) and
    broadcast back onto every row."""
    ex = corpus.select(F.posexplode(vec_col).alias("__j", "__x"))
    per_dim = ex.groupBy("__j").agg(
        F.max(F.abs(F.col("__x").cast("double"))).alias("__m")
    )
    scales = per_dim.agg(
        F.sort_array(F.collect_list(F.struct("__j", "__m"))).alias("__sm")
    ).select(F.transform("__sm", lambda s: s["__m"] / 127.0).alias("__scales"))
    return corpus.crossJoin(F.broadcast(scales))


def _q8_elem(x: Column, scale: Column) -> Column:
    """One element's symmetric int8 quantization against its dimension
    scale: 1e-9-rounded division, integer HALF_UP round, clamp to ±127;
    an all-zero dimension (scale 0) quantizes to 0.  The clamp applies to
    the DOUBLE, before the int cast — an ann_int8 QUERY component can lie
    far outside the corpus range its scale was fit on, and casting the
    unclamped quotient overflows under ANSI (r9 fuzzer catch; the DuckDB
    replay already clamped first)."""
    return (
        F.when(scale == 0, F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(-127.0),
                F.least(
                    F.lit(127.0),
                    F.round(F.round(x.cast("double") / scale, 9), 0),
                ),
            )
        )
        .cast("int")
    )


def _q8_vec(vec: Column) -> Column:
    """:func:`_q8_elem` over every element of ``vec``, against the
    per-dimension ``__scales`` column of :func:`_with_int8_scales`."""
    return F.transform(vec, lambda x, j: _q8_elem(x, F.element_at(F.col("__scales"), j + 1)))


def _q8_sql(elem: str, scale: str = "scales[CAST(j AS INT)]") -> str:
    """DuckDB replay of :func:`_q8_elem`."""
    return (
        f"CASE WHEN {scale} = 0 THEN 0 "
        f"ELSE CAST(greatest(-127, least(127, "
        f"round(round(CAST({elem} AS DOUBLE) / {scale}, 9), 0)"
        f")) AS INT) END"
    )


def quantize_embeddings_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Symmetric per-dimension int8 quantization of an embedding corpus —
    the 4× storage/bandwidth cut an ANN serving tier takes before building
    IVF/PQ indexes: ``scale_j = max|x_j| / 127`` over the corpus, ``q_j =
    round(x_j / scale_j)`` clamped to [-127, 127], plus a per-vector
    ``max_abs_err`` reconstruction audit (``max_j |x_j - q_j·scale_j|``) so
    the recall cost of quantizing is measurable BEFORE the index builds on
    top (the same measure-first stance as ``knn_recall_audit``).

    An all-zero dimension has scale 0 and quantizes to 0 with zero error.
    NULL and non-modal-dimension vectors are excluded (the knn_graph
    rankability contract).

    Determinism: the division is rounded at 1e-9 (two orders below any
    fixture magnitude) before the integer round, the error at
    ``round_digits`` — the repo-standard guard against cross-engine
    float-rendering drift at tie boundaries.

    Scale shape: ONE posexplode→per-dimension max aggregate (map-side
    combined, ``dim`` result rows), the dim-sized scales row broadcast
    back onto the corpus, and quantization itself is a row-local
    higher-order projection — the corpus never shuffles."""
    corpus, _ = _rankable(df, vec_col, dim)
    # quantize ONCE into a materialized column, then derive the error by
    # zipping the original vector with the computed q — Catalyst does no CSE
    # inside HOF lambdas, so inlining the clamp/round tree into the error
    # term would execute it twice per element (r9 review)
    qexpr = _q8_vec(F.col(vec_col))
    errs = F.transform(
        F.col(vec_col),
        lambda x, j: F.abs(
            x.cast("double")
            - F.element_at(F.col("qvec"), j + 1).cast("double")
            * F.element_at(F.col("__scales"), j + 1)
        ),
    )
    return (
        _with_int8_scales(corpus, vec_col)
        .withColumn("qvec", qexpr)
        .select(
            F.col(id_col),
            "qvec",
            # + 0.0 normalizes IEEE negative zero: a -0.0 input yields a
            # -0.0 error term whose sign survives DuckDB's round/list_max
            # but not Spark's — (-0.0 + 0.0) is +0.0 on both (fuzz find)
            (F.round(F.array_max(errs), round_digits) + F.lit(0.0)).alias(
                "max_abs_err"
            ),
        )
    )


def quantize_int8_oracle_sql(
    source_sql: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_digits: int = 6,
) -> str:
    """DuckDB replay of :func:`quantize_embeddings_int8` — identical scale
    construction (per-dim max over the same rankable corpus), identical
    two-stage round and clamp."""
    qexpr = _q8_sql(f"{vec_col}[CAST(j AS INT)]")
    return f"""
WITH corpus AS (
  SELECT {id_col}, {vec_col} FROM ({source_sql})
  WHERE {vec_col} IS NOT NULL AND len({vec_col}) = {dim}
),
__e AS (
  SELECT unnest(generate_series(1, len({vec_col}))) AS j,
         unnest({vec_col}) AS x
  FROM corpus
),
__d AS (SELECT j, max(abs(CAST(x AS DOUBLE))) AS m FROM __e GROUP BY j),
__s AS (SELECT list(m / 127.0 ORDER BY j) AS scales FROM __d)
SELECT {id_col},
       list_transform(generate_series(1, len({vec_col})), j -> {qexpr}) AS qvec,
       round(list_max(list_transform(generate_series(1, len({vec_col})),
             j -> abs(CAST({vec_col}[CAST(j AS INT)] AS DOUBLE)
                      - CAST({qexpr} AS DOUBLE) * scales[CAST(j AS INT)]))),
             {round_digits}) + CAST(0 AS DOUBLE) AS max_abs_err
FROM corpus, __s
"""


def ann_int8_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k by INTEGER int8 inner product: corpus and query quantize
    against the same per-dimension scales (:func:`_q8_elem`), the score is
    a pure int64 dot of int8 values — the arithmetic a SIMD int8 serving
    tier runs, and the accuracy trade :func:`quantize_embeddings_int8`'s
    error audit prices.  Unlike the float-cosine rankers, the score and
    therefore the RANKING are exact integers: no rounding convention, no
    cross-engine float hazard anywhere past quantization.

    Scale shape: one dim-sized scales aggregate broadcast back, then a
    single narrow projection + TakeOrdered top-k (per-partition k-row
    heaps) — the corpus never shuffles.  |dot| ≤ dim·127² (~10⁶ at
    dim 64), far inside int64."""
    corpus, dim = _rankable(df, vec_col, dim)
    if len(query_vec) != dim:
        raise ValueError(
            f"query_vec has {len(query_vec)} dims but the corpus dimension is {dim}"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qlit = F.array(*[F.lit(float(v)).cast("double") for v in query_vec])
    dot = F.aggregate(
        F.zip_with(
            _q8_vec(F.col(vec_col)), _q8_vec(qlit), lambda a, b: a.cast("long") * b.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        _with_int8_scales(corpus, vec_col).select(F.col(id_col), dot.alias("dot_int8"))
        .orderBy(F.desc("dot_int8"), F.asc(id_col))
        .limit(k)
    )


def ann_int8_oracle_sql(
    source_sql: str,
    query_vec: list[float] | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    query_arr_sql: str | None = None,
) -> str:
    """DuckDB replay of :func:`ann_int8_topk` — same scales, same
    quantization of both sides, BIGINT dot, (dot DESC, id ASC) top-k.
    The query comes either as a literal float list or as ``query_arr_sql``
    (a scalar-subquery array expression, so registry oracles stay static
    strings that never read data at build time)."""
    if (query_vec is None) == (query_arr_sql is None):
        raise ValueError("pass exactly one of query_vec / query_arr_sql")
    if query_vec is not None:
        qarr = "[" + ", ".join(repr(float(v)) for v in query_vec) + "]::DOUBLE[]"
    else:
        qarr = f"CAST({query_arr_sql} AS DOUBLE[])"
    return f"""
WITH corpus AS (
  SELECT {id_col}, {vec_col} FROM ({source_sql})
  WHERE {vec_col} IS NOT NULL AND len({vec_col}) = {dim}
),
__e AS (
  SELECT unnest(generate_series(1, len({vec_col}))) AS j,
         unnest({vec_col}) AS x
  FROM corpus
),
__d AS (SELECT j, max(abs(CAST(x AS DOUBLE))) AS m FROM __e GROUP BY j),
__s AS (SELECT list(m / 127.0 ORDER BY j) AS scales FROM __d),
-- the query array must be a plain COLUMN before it enters a lambda:
-- DuckDB rejects subqueries inside lambda expressions
__qa AS (SELECT {qarr} AS qa),
__qq AS (
  SELECT list_transform(generate_series(1, {dim}),
         j -> {_q8_sql("qa[CAST(j AS INT)]")}) AS qv
  FROM __s, __qa
)
SELECT {id_col},
       CAST(list_sum(list_transform(generate_series(1, {dim}),
            j -> CAST({_q8_sql(f"{vec_col}[CAST(j AS INT)]")} AS BIGINT)
                 * CAST(qv[CAST(j AS INT)] AS BIGINT))) AS BIGINT) AS dot_int8
FROM corpus, __s, __qq
ORDER BY dot_int8 DESC, {id_col} LIMIT {k}
"""


def power_iteration_top(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 2,
) -> DataFrame:
    """Top principal direction of the (mean-centered) embedding corpus by
    distributed power iteration — the spectral audit behind anisotropy /
    collapse detection: if the top direction's variance share is high, the
    embedding space has degenerated toward a line (common after bad
    pooling or an over-trained encoder) and every cosine-based operator
    (dedup, ANN, clustering) upstream loses resolution.

    Determinism (the pagerank discipline, float leaves under the
    embedding_drift contract): the mean vector is the 1e-6-rounded
    per-dimension avg; every inner product is per-term ``round(·,12)``
    summed as exact ``decimal(38,12)`` (order-independent); the iterate is
    renormalized each round with the norm computed the same way; v₀ is the
    uniform unit vector ``1/sqrt(dim)`` (a literal both engines share).
    The whole ``n_iters`` walk is SQL-unrolled and oracle-checked.

    Output is ONE row: ``(n, dim, var_top, var_total, top_share)`` —
    variance along the converged direction, total centered variance, and
    their 1e-6-rounded ratio (the anisotropy headline).

    Scale shape: everything runs on the posexploded ``(id, pos)`` grain —
    N·dim rows, map-side combined into dim-sized (per-round w, norm) or
    id-sized (per-round d) aggregates; the only broadcast frames are
    dim-sized (mean, iterate) or single-row (norm).  No collect, no
    corpus² anywhere; rounds are lineage-cut."""
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    base, dim = _rankable(df, vec_col)
    ex = base.select(
        F.col(id_col).alias("__id"),
        F.posexplode(vec_col).alias("__pos", "__x"),
    ).select("__id", "__pos", F.col("__x").cast("double").alias("__x"))
    mu = ex.groupBy("__pos").agg(F.round(F.avg("__x"), 6).alias("__m"))
    # NOT spread (measured, r11 optimization round): the per-round stages
    # over this frame are ~0.3 s of CPU each — below the ~0.3-0.5 s
    # 32-task stage-overhead floor of local mode — and spreading the
    # checkpoint made every one of the ~25 sequential round stages PAY
    # that floor (s_top_direction regressed 2.9 s → 3.7 s A/B).  On a
    # real cluster the scan is already wide.
    xc = (
        ex.join(F.broadcast(mu), "__pos")
        .select("__id", "__pos", (F.col("__x") - F.col("__m")).alias("__xc"))
        .localCheckpoint(eager=False)  # consumed every round + both variances
    )
    v0 = 1.0 / math.sqrt(float(dim))

    def project(v: DataFrame | None) -> DataFrame:
        """Per-id ``d = xc·v``.  Round 1's iterate is the CONSTANT
        1/sqrt(dim): multiply by the literal instead of broadcast-joining a
        frame whose value column is that same literal everywhere — one less
        broadcast build + join, products bit-identical (r11 optimization
        round, guide §2.4)."""
        if v is None:
            return xc.groupBy("__id").agg(_exact_sum(F.col("__xc") * F.lit(v0)).alias("__d"))
        return (
            xc.join(F.broadcast(v), "__pos")
            .groupBy("__id")
            .agg(_exact_sum(F.col("__xc") * F.col("__val")).alias("__d"))
        )

    v: DataFrame | None = None
    for _ in range(n_iters):
        d = project(v)
        w = (
            xc.join(d, "__id")
            .groupBy("__pos")
            .agg(_exact_sum(F.col("__d") * F.col("__xc")).alias("__w"))
        )
        nrm = w.agg(
            F.sqrt(_exact_sum(F.col("__w") * F.col("__w"))).alias("__nrm")
        )
        v = (
            w.crossJoin(F.broadcast(nrm))
            .select(
                "__pos",
                F.when(
                    F.col("__nrm") > 0, F.round(F.col("__w") / F.col("__nrm"), 12)
                ).otherwise(F.lit(0.0)).alias("__val"),
            )
            .localCheckpoint(eager=False)
        )
    # variance along the final direction needs d against the FINAL iterate.
    # NOT folded into one per-id pass with var_total (measured, r11
    # optimization round): sharing the aggregate is value-identical
    # (order-independent decimal sums) and halves the plan (23 -> 13
    # operators), but locally the top/tot branches run as CONCURRENT
    # sibling stages on idle cores while the merged pass serializes both
    # sums into one narrow stage — alternating idle A/B, min of 3:
    # 2.67 s -> 3.03 s.  At cluster scale (wide frames, busy cores) the
    # one-pass shape is the win; re-evaluate there.
    d = project(v)
    top = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(_exact_sum(F.col("__d") * F.col("__d")) / F.count(F.lit(1)), 6).alias(
            "var_top"
        ),
    )
    tot = xc.groupBy("__id").agg(
        _exact_sum(F.col("__xc") * F.col("__xc")).alias("__sq")
    ).agg(
        F.round(_exact_sum(F.col("__sq")) / F.count(F.lit(1)), 6).alias(
            "var_total"
        )
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "n",
            F.lit(dim).cast("int").alias("dim"),
            "var_top",
            "var_total",
            F.when(
                F.col("var_total") > 0,
                F.round(F.col("var_top") / F.col("var_total"), 6),
            ).alias("top_share"),
        )
    )


def neighbor_jaccard(
    edges: DataFrame,
    id_col: str = "vec_id",
    top_pairs: int = 200,
    max_in_degree: int = 64,
) -> DataFrame:
    """Neighbor-set Jaccard over a directed k-NN edge frame ``(id_col,
    nbr_id)`` — the classic link-prediction / entity-consolidation
    feature: two nodes whose OUT-neighbor sets overlap heavily are
    near-duplicates the direct edge set may have missed (they rank the
    same neighbors without necessarily ranking each other).  Complements
    :func:`graph_triangles` (closed wedges around ONE node) with
    pairwise set similarity.

    Hubs are dropped FIRST: edges pointing at a node with in-degree >
    ``max_in_degree`` leave the neighbor sets before anything else — a
    super-hub (collapsed embedding region, boilerplate cluster) is both
    uninformative as a shared neighbor and the quadratic term in the
    wedge join (pairs per shared neighbor = in-degree²).  After the cap
    the join is bounded by Σ min(in_degree, cap)² ≤ N·cap² — linear in
    nodes at fixed cap.

    Pure integers: ``inter`` by a shared-neighbor equi-join count,
    ``union = deg_a + deg_b − inter``, ``jac_ppm`` the repo's half-up
    never-negative division.  Output: top ``top_pairs`` by (jac_ppm
    DESC, id_a, id_b) — deterministic, bounded."""
    if top_pairs < 1:
        raise ValueError(f"top_pairs must be >= 1, got {top_pairs}")
    if max_in_degree < 1:
        raise ValueError(f"max_in_degree must be >= 1, got {max_in_degree}")
    src = (
        edges.select(F.col(id_col).alias("u"), F.col("nbr_id").alias("n"))
        .filter(F.col("u") != F.col("n"))
        .distinct()
    )
    keep = (
        src.groupBy("n")
        .agg(F.count(F.lit(1)).alias("__ind"))
        .filter(F.col("__ind") <= max_in_degree)
        .select("n")
    )
    e = src.join(keep, "n", "left_semi").localCheckpoint(eager=False)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    inter = (
        e.select("n", F.col("u").alias("id_a"))
        .join(e.select("n", F.col("u").alias("id_b")), "n")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(deg.select(F.col("u").alias("id_a"), F.col("deg").alias("__da")), "id_a")
        .join(deg.select(F.col("u").alias("id_b"), F.col("deg").alias("__db")), "id_b")
        .withColumn("union_sz", (F.col("__da") + F.col("__db") - F.col("inter")).cast("long"))
        .withColumn(
            "jac_ppm",
            F.expr(
                "cast((cast(inter as decimal(38,0)) * 2000000 + union_sz)"
                " div (cast(union_sz as decimal(38,0)) * 2) as bigint)"
            ),
        )
    )
    return (
        out.select(
            "id_a", "id_b", F.col("inter").cast("long").alias("inter"),
            "union_sz", "jac_ppm",
        )
        .orderBy(F.desc("jac_ppm"), F.asc("id_a"), F.asc("id_b"))
        .limit(top_pairs)
    )


def neighbor_jaccard_oracle_sql(
    edges_sql: str,
    id_col: str = "vec_id",
    top_pairs: int = 200,
    max_in_degree: int = 64,
    extra_ctes: str | None = None,
) -> str:
    """DuckDB replay of :func:`neighbor_jaccard` — same hub cap, wedge
    join, half-up ppm and (jac DESC, id_a, id_b) top-k."""
    parts = [] if extra_ctes is None else [extra_ctes]
    parts += [
        f"src AS (SELECT DISTINCT {id_col} AS u, nbr_id AS n"
        f" FROM ({edges_sql}) WHERE {id_col} != nbr_id)",
        "keep AS (SELECT n FROM (SELECT n, count(*) AS c FROM src GROUP BY n)"
        f" WHERE c <= {max_in_degree})",
        "e AS MATERIALIZED (SELECT u, n FROM src WHERE n IN (SELECT n FROM keep))",
        "deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u)",
        "inter AS (SELECT a.u AS id_a, b.u AS id_b, count(*) AS inter"
        " FROM e a JOIN e b ON a.n = b.n AND a.u < b.u GROUP BY 1, 2)",
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
       CAST(da.deg + db.deg - inter AS BIGINT) AS union_sz,
       CAST((CAST(inter AS HUGEINT) * 2000000 + (da.deg + db.deg - inter))
            // (CAST(da.deg + db.deg - inter AS HUGEINT) * 2) AS BIGINT)
         AS jac_ppm
FROM inter JOIN deg da ON da.u = id_a JOIN deg db ON db.u = id_b
ORDER BY jac_ppm DESC, id_a, id_b
LIMIT {top_pairs}
"""
    )
