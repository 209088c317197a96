"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of every choice here):
- Signatures are computed row-local with Catalyst higher-order functions
  (``transform``/``aggregate``/``array_min``) — one codegen'd projection, no
  Python, no shuffle.
- Candidate generation shuffles once on (band_idx, band_hash) — the standard
  MinHash-LSH banding join; band width tunes the recall/cost curve.
- Verification is a signature-agreement join over candidate pairs only.
- Cluster resolution is iterative min-label propagation: O(log n) joins,
  each fully distributed; no connected-components on the driver.
"""

from __future__ import annotations

import random
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fineo_readerator_spark.llm_ops.textstats import tokens
from fineo_readerator_spark.session import is_local_master

# modulus for the universal hash family: prime > 2^32, products stay < 2^62
_MERSENNE_P = 4294967311
_MAX_A = 1 << 30


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MAX_A), rng.randrange(0, _MERSENNE_P)) for _ in range(num_hashes)]


def _spread(df: DataFrame) -> DataFrame:
    """Spread a CPU-bound projection across all cores on LOCAL masters, where
    a single small parquet file yields 1-2 input partitions and would
    serialize the tokenize+hash pass; the repartition is a same-process
    exchange, so it costs microseconds.  On a real cluster the corpus has
    partitions ≫ cores and the same repartition would be a full shuffle of
    the corpus — skip it entirely.  (Deciding from the actual partition count
    via ``df.rdd`` would force a plan→RDD conversion costing ~0.5 s of driver
    time per query build, which dominates these sub-second local queries.)
    Local means ``session.is_local_master``: ``local-cluster[...]`` has
    separate executor JVMs and is skipped like a cluster."""
    sc = df.sparkSession.sparkContext
    if is_local_master(sc.master):
        return df.repartition(sc.defaultParallelism)
    return df


# --- exact ----------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep the lowest-id row per exact text hash, as ONE shuffle: rows hash-
    partition by md5(text) and ``row_number() = 1`` keeps the winner.  Spark's
    WindowGroupLimit pushes the rank filter below the exchange (partial top-1
    per hash on the map side), so the shuffle carries ~one row per distinct
    hash per mapper.  At 100 TB this beats the agg + semi-join formulation
    outright: the kept-id set there is ~N rows (one per distinct hash), far
    too big to broadcast, so the semi-join becomes a SECOND full-corpus
    shuffle — and when the input is a union, Catalyst pushes the semi-join
    through it and evaluates the whole aggregate subtree once per branch."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- paragraph-granular ----------------------------------------------------


def paragraph_windows(text_col: str, para_tokens: int = 15):
    """Consecutive ``para_tokens``-token windows of a text column as a
    string array — THE paragraph-boundary convention (the fixtures carry no
    newline structure).  Shared by :func:`paragraph_dedup` and
    ``textstats.with_repetition_signals`` so the boundary can never drift
    between them (both DuckDB replays unroll the identical windowing)."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_par = F.ceil(n / F.lit(para_tokens)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_par - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i * para_tokens + 1, para_tokens)),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    para_tokens: int = 15,
) -> DataFrame:
    """Paragraph-level exact dedup with document reassembly (the
    RefinedWeb/CCNet pass that removes boilerplate shared ACROSS documents —
    headers, navigation, license blurbs — which document-level dedup can't
    touch because the surrounding text differs).

    Paragraph boundary: consecutive ``para_tokens``-token windows (the
    fixtures' text carries no newline structure; on real corpora pass the
    corpus' own paragraph splitter upstream and feed one-row-per-paragraph).
    Rule: a paragraph survives only in its FIRST occurrence corpus-wide —
    ordered by (id, position) — and each document reassembles from its
    surviving paragraphs in order.  Documents whose every paragraph is a
    repeat disappear (they are pure boilerplate).

    Scale shape: tokenize+window is one codegen'd projection; explode makes
    (id, idx, para) rows; first-occurrence is ONE hash shuffle on
    md5(para) with ``row_number() = 1`` (WindowGroupLimit keeps partial
    top-1s map-side, so the exchange carries ~one row per distinct paragraph
    per mapper — the ``exact_dedup`` argument at paragraph granularity);
    reassembly is one aggregation back on the id.  The shuffled payload is
    paragraph text; at 100 TB swap the ``para`` carried through the window
    for its hash and rejoin the text of survivors, trading a second join for
    an 8-byte shuffle key — the first-occurrence semantics are unchanged."""
    from pyspark.sql.window import Window

    paras = paragraph_windows(text_col, para_tokens)
    # NOT spread (measured, r11 optimization round): the tokenize+window
    # stage runs ~0.75 s of CPU per task over 2 tasks locally, and adding
    # a text-carrying repartition (plus its sort-before-repartition pass)
    # cost more than it saved (d_paragraph_dedup 1.45 → 1.56 s A/B).
    exploded = (
        df.select(F.col(id_col).alias("__id"), paras.alias("__ps"))
        .filter(F.size("__ps") > 0)
        .select("__id", F.posexplode("__ps").alias("__idx", "__para"))
        .filter(F.length("__para") > 0)
    )
    w = Window.partitionBy(F.md5(F.col("__para"))).orderBy("__id", "__idx")
    kept = exploded.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return (
        kept.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__idx", "__para"))),
                    lambda s: s["__para"],
                ),
            ).alias("kept_text"),
        )
        .select(F.col("__id").alias(id_col), "n_kept", "kept_text")
    )


def paragraph_dedup_oracle_sql(
    corpus_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_tokens: int = 15,
) -> str:
    """DuckDB replay of :func:`paragraph_dedup`: same windows, same
    (id, idx) first-occurrence rule, same in-order reassembly."""
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'), x -> length(x) > 0)"
    return f"""
WITH __c AS (SELECT {id_col} AS id, {toks} AS toks FROM ({corpus_sql})),
__p AS (
  SELECT id, CAST(i AS INT) - 1 AS idx,
         array_to_string(toks[(i - 1) * {para_tokens} + 1 : i * {para_tokens}], ' ') AS para
  FROM __c, unnest(generate_series(1, CAST(ceil(len(toks) / {para_tokens}.0) AS BIGINT))) t(i)
  WHERE len(toks) > 0
),
__first AS (
  SELECT id, idx, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY id, idx) AS rn
  FROM __p WHERE length(para) > 0
)
SELECT id AS {id_col}, count(*) AS n_kept,
       string_agg(para, ' ' ORDER BY idx) AS kept_text
FROM __first WHERE rn = 1 GROUP BY id
"""


def boilerplate_strip(
    df: DataFrame,
    id_col: str,
    group_col: str,
    text_col: str = "text",
    para_tokens: int = 15,
    min_docs: int = 2,
    min_share_pct: int = 25,
) -> DataFrame:
    """In-domain boilerplate removal: a paragraph is boilerplate WITHIN a
    group (site/host/source) when it appears in ≥ ``min_docs`` distinct
    documents AND in ≥ ``min_share_pct`` percent of the group's documents —
    nav bars, footers, cookie banners, license blurbs.  Unlike
    :func:`paragraph_dedup` (keep FIRST occurrence corpus-wide), boilerplate
    is removed from EVERY document including the first: no occurrence is
    the "original" of a template.  The share test is an exact integer rule
    (``n_docs · 100 ≥ pct · group_docs``) — no float boundary for engines
    to disagree on.

    Scale shape: tokenize+window is one codegen'd projection; the
    paragraph-frequency table is a distinct-projection + hash agg keyed
    (group, md5(para)) — paragraph-cardinality-sized, NOT corpus-sized —
    rejoined on the same key (co-partitioned with the explode output's
    natural shuffle); per-group doc totals are a group-cardinality frame,
    broadcast.  Documents that are pure template disappear (yield signal,
    same contract as paragraph_dedup).  Output ``(id, n_kept, n_boiler,
    kept_text)``."""
    paras = paragraph_windows(text_col, para_tokens)
    exploded = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("__grp"),
            paras.alias("__ps"),
        )
        .filter(F.size("__ps") > 0)
        .select("__id", "__grp", F.posexplode("__ps").alias("__idx", "__para"))
        .filter(F.length("__para") > 0)
        .withColumn("__ph", F.md5("__para"))
        .localCheckpoint(eager=False)  # feeds the DF table AND the rejoin
    )
    # NULL group is a first-class group (a host column can be unparseable):
    # null-safe join keys here, IS NOT DISTINCT FROM in the oracle
    group_docs = F.broadcast(
        df.groupBy(F.col(group_col).alias("__ggrp"))
        .agg(F.countDistinct(F.col(id_col)).alias("__gd"))
    )
    para_df = (
        exploded.select(
            F.col("__grp").alias("__pgrp"), F.col("__ph").alias("__pph"), "__id"
        )
        .distinct()
        .groupBy("__pgrp", "__pph")
        .agg(F.count(F.lit(1)).alias("__nd"))
    )
    boiler = (
        F.col("__nd") >= F.lit(min_docs)
    ) & (F.col("__nd") * F.lit(100) >= F.lit(min_share_pct) * F.col("__gd"))
    flagged = (
        exploded.join(
            para_df,
            F.col("__grp").eqNullSafe(F.col("__pgrp")) & (F.col("__ph") == F.col("__pph")),
        )
        .join(group_docs, F.col("__grp").eqNullSafe(F.col("__ggrp")))
        .withColumn("__boiler", boiler)
    )
    return (
        flagged.groupBy("__id")
        .agg(
            F.sum(F.when(~F.col("__boiler"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("__boiler"), 1).otherwise(0)).cast("long").alias("n_boiler"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.array_sort(F.collect_list(F.struct("__idx", "__boiler", "__para"))),
                        lambda s: ~s["__boiler"],
                    ),
                    lambda s: s["__para"],
                ),
            ).alias("kept_text"),
        )
        .filter(F.col("n_kept") > 0)
        .select(F.col("__id").alias(id_col), "n_kept", "n_boiler", "kept_text")
    )


def boilerplate_strip_oracle_sql(
    corpus_sql: str,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
    para_tokens: int = 15,
    min_docs: int = 2,
    min_share_pct: int = 25,
) -> str:
    """DuckDB replay of :func:`boilerplate_strip`: same windows, same exact
    integer share rule, same in-order reassembly of non-boilerplate
    paragraphs."""
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'), x -> length(x) > 0)"
    return f"""
WITH __c AS (SELECT {id_col} AS id, {group_col} AS grp, {toks} AS toks FROM ({corpus_sql})),
__p AS (
  SELECT id, grp, CAST(i AS INT) - 1 AS idx,
         array_to_string(toks[(i - 1) * {para_tokens} + 1 : i * {para_tokens}], ' ') AS para
  FROM __c, unnest(generate_series(1, CAST(ceil(len(toks) / {para_tokens}.0) AS BIGINT))) t(i)
  WHERE len(toks) > 0
),
__pp AS (SELECT id, grp, idx, para, md5(para) AS ph FROM __p WHERE length(para) > 0),
__gd AS (SELECT grp, count(DISTINCT id) AS gd FROM __c GROUP BY grp),
__pf AS (SELECT grp, ph, count(DISTINCT id) AS nd FROM __pp GROUP BY grp, ph),
__f AS (
  SELECT p.id, p.idx, p.para,
         (f.nd >= {min_docs} AND f.nd * 100 >= {min_share_pct} * g.gd) AS boiler
  FROM __pp p JOIN __pf f ON p.grp IS NOT DISTINCT FROM f.grp AND p.ph = f.ph
  JOIN __gd g ON p.grp IS NOT DISTINCT FROM g.grp
)
SELECT id AS {id_col},
       CAST(count(*) FILTER (WHERE NOT boiler) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (WHERE boiler) AS BIGINT) AS n_boiler,
       coalesce(string_agg(para, ' ' ORDER BY idx) FILTER (WHERE NOT boiler), '') AS kept_text
FROM __f GROUP BY id HAVING count(*) FILTER (WHERE NOT boiler) > 0
"""


# --- MinHash + LSH --------------------------------------------------------


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles as a distinct array; short docs fall back to the whole
    token list joined (so they still get a signature).

    Built by iterated ``zip_with`` over shifted slices instead of
    ``transform(sequence(i), i -> slice(toks, i, k))``: a lambda that CAPTURES
    an outer expression re-evaluates it per element (interpreted, O(n²) per
    row — measured ~10× slower on real docs), while ``zip_with`` lambdas only
    touch their element arguments, so the token array is evaluated a constant
    number of times per row."""
    toks = tokens(col)
    n = F.size(toks)
    full = F.array(F.concat_ws(" ", toks))
    windows = toks
    for j in range(2, k + 1):
        m = F.greatest(n - j + 1, F.lit(0))
        windows = F.zip_with(
            F.slice(windows, 1, m),
            F.slice(toks, j, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.array_distinct(F.when(n >= k, windows).otherwise(full))


def _md5_long(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5 as a long.  Identical
    in Spark, DuckDB and Python — the leaf that lets the whole MinHash/SimHash
    pipeline be replayed bit-for-bit by the SQL oracle.  Slower than xxhash64
    (md5 + hex parse vs one native hash), so production paths default to
    xxhash64 and only the oracle-checked queries pay for portability."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingle_hashes(col: Column, shingle_k: int = 3, portable: bool = False) -> Column:
    """Distinct shingle hash array (the expensive tokenize+hash pass —
    materialize this ONCE and feed it to ``minhash_signature_from``, otherwise
    each of the N permutations re-evaluates the tokenization)."""
    leaf = _md5_long if portable else F.xxhash64
    return F.transform(shingles(col, shingle_k), lambda s: F.pmod(leaf(s), F.lit(_MERSENNE_P)))


def minhash_signature_from(base: Column, num_hashes: int = 64, seed: int = 42) -> Column:
    """MinHash signature as array<long> from a shingle-hash array.

    Single-pass: one ``aggregate`` traversal of the shingle array; the
    accumulator holds all N permutation minima and an indexed ``transform``
    updates them per shingle with ``(a_i*x + b_i) mod p``.  O(|shingles|·N)
    arithmetic but each shingle hash is computed exactly once — no explode,
    no shuffle, and no N-fold re-evaluation of the tokenization (Catalyst
    collapses projections, so a "materialize then fan out" two-step would
    still re-run the base expression per permutation)."""
    params = _hash_params(num_hashes, seed)
    A = F.array(*[F.lit(a).cast("long") for a, _ in params])
    B = F.array(*[F.lit(b).cast("long") for _, b in params])
    init = F.array_repeat(F.lit(_MERSENNE_P).cast("long"), num_hashes)
    idx1 = lambda i: (i + F.lit(1)).cast("int")  # noqa: E731
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.transform(
            acc,
            lambda v, i: F.least(
                v, (F.element_at(A, idx1(i)) * h + F.element_at(B, idx1(i))) % F.lit(_MERSENNE_P)
            ),
        ),
    )


def minhash_signature(
    col: Column, num_hashes: int = 64, shingle_k: int = 3, seed: int = 42
) -> Column:
    """One-shot signature (tokenizes per permutation; prefer the two-step
    ``shingle_hashes`` + ``minhash_signature_from`` in pipelines)."""
    return minhash_signature_from(shingle_hashes(col, shingle_k), num_hashes, seed)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """(id, sig) signatures via explode + N ``min`` aggregates.

    Same output as ``minhash_signature`` but an order of magnitude faster on
    real corpora: Catalyst higher-order-function lambdas evaluate interpreted
    (no whole-stage codegen) and the single-pass fold rebuilds an N-slot
    accumulator array per shingle, while here every ``(a_i*h + b_i) % p`` min
    is a plain codegen'd aggregate.  Map-side partial aggregation keeps the
    shuffle at #docs × N longs regardless of corpus size — the 100 TB-safe
    shape."""
    params = _hash_params(num_hashes, seed)
    # explode the shingle STRINGS, then hash in a flat projection: a hash
    # inside transform() evaluates interpreted (higher-order lambdas skip
    # whole-stage codegen), while the post-explode projection is codegen'd —
    # measured ~25% faster at equal output (same strings, same leaf hash)
    leaf = _md5_long if portable else F.xxhash64
    exploded = (
        _spread(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("id"),
            F.explode(shingles(F.col(text_col), shingle_k)).alias("s"),
        )
        .select("id", F.pmod(leaf(F.col("s")), F.lit(_MERSENNE_P)).alias("h"))
    )
    # one SQL-string expression instead of N composed Column objects: the
    # Column algebra costs ~8 py4j round-trips per permutation (seconds of
    # driver time per query build at N=64); a single parse of the whole
    # aggregate list is ~10x cheaper and yields the identical plan
    sig = (
        "array("
        + ",".join(f"min(({a}L * h + {b}L) % {_MERSENNE_P}L)" for a, b in params)
        + ")"
    )
    return exploded.groupBy("id").agg(F.expr(sig).alias("sig"))


def _band_explode(sigs: DataFrame, bands: int, r: int, keep: tuple = ()) -> DataFrame:
    """(id, keep..., band_idx, band_hash): one row per signature band.
    band_hash is xxhash64 over the band's r positions — a 64-bit stand-in
    for all-r-positions-equal (collision odds are negligible next to the
    est_jaccard verification that follows every band match).  ``keep``
    carries extra columns (e.g. the sig itself) through the explode,
    row-locally — a consumer that needs them must NOT join back to the
    input, which on a stream would be a stateful stream-stream self-join."""
    return sigs.select(
        "id",
        *keep,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda j: F.xxhash64(F.concat_ws(",", F.slice(F.col("sig"), j * r + 1, r)), j),
            )
        ).alias("band_idx", "band_hash"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b, est_jaccard ≥ threshold).

    banding: rows-per-band r = num_hashes/bands; a pair lands in a bucket iff
    one band agrees on all r positions.  est_jaccard = fraction of agreeing
    signature positions (unbiased estimator of true Jaccard)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    # signature pass materialized once, not once per self-join side.
    # Dropping this lineage cut to save its build-time toRdd was MEASURED
    # AS A REJECTION in r12: AQE's stage cache does de-duplicate the four
    # consumers' identical (id)-hash exchanges at runtime (3 ReusedExchange
    # in the executed plan), but the 4x-duplicated subtree makes the plan
    # itself 4x larger to analyze/codegen and turns three consumers into
    # separate sig-frame broadcasts — idle A/B min-of-3: d_minhash_dedup
    # +11.8%, d_incremental_dedup +5.7%, d_edit_verify +4.1%.  The
    # checkpoint is the cheaper lineage handling on both faces.
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k, seed, portable
    ).localCheckpoint(eager=False)
    # band join carries only (band_hash, id): the 64-long signatures never
    # enter the wide shuffle — they rejoin onto the (tiny) candidate edge set
    banded = _band_explode(sigs, bands, r)
    left = banded.select("band_idx", "band_hash", F.col("id").alias("id_a"))
    right = banded.select("band_idx", "band_hash", F.col("id").alias("id_b"))
    cand = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .withColumn("est_jaccard", F.round(agree * F.lit(1.0) / num_hashes, 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_audit(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    portable: bool = False,
    sample_mod: int = 5,
    max_sample_docs: int = 10_000,
) -> DataFrame:
    """Quality audit of the MinHash-LSH dedup pipeline against EXACT shingle
    Jaccard — the dedup twin of ``knn_recall_audit``'s measure-first
    doctrine: before a keep/drop policy trusts the candidate pairs, measure
    what the estimator actually delivers at this (num_hashes, bands,
    threshold) operating point.

    One row: ``(n_candidates, true_pos, false_pos, precision_ppm,
    sample_true_pairs, sample_caught, recall_ppm)``.

    - **Precision** re-scores EVERY surviving candidate pair with exact
      Jaccard over the same shingle-hash sets the signatures were built
      from — candidate-set-sized work (near-dup pairs, not corpus²).
    - **Recall** is exact only against ground truth, which needs all-pairs —
      so it is measured on the ``id % sample_mod == 0`` doc sample (ids
      must be non-negative): all exact pairs ≥ threshold within the sample,
      vs how many the LSH pipeline caught.  O((N/sample_mod)²) by design;
      ``max_sample_docs`` gates the quadratic term (same stance as
      ``ngram_jaccard_pairs``' cartesian refusal).
    - Threshold tests cross-multiply in integers (``inter·10⁶ ≥ thr_ppm ·
      union``) — no float boundary; ppm ratios are half-up pure-integer
      divisions; empty denominators report 10⁶ (vacuously perfect)."""
    thr_ppm = int(round(threshold * 1_000_000))
    sets = df.select(
        F.col(id_col).alias("id"),
        shingle_hashes(F.col(text_col), shingle_k, portable).alias("hs"),
    ).localCheckpoint(eager=False)
    n_samp = sets.filter(F.col("id") % sample_mod == 0).count()
    if n_samp > max_sample_docs:
        raise ValueError(
            f"minhash_audit recall sample holds {n_samp:,} docs "
            f"(> max_sample_docs={max_sample_docs:,}); its exact all-pairs "
            "leg is quadratic — raise sample_mod (or the bound explicitly)"
        )
    cand = (
        minhash_lsh_pairs(
            df, id_col, text_col, num_hashes, bands, shingle_k, threshold, seed, portable
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )

    def is_true() -> Column:
        inter = F.size(F.array_distinct(F.array_intersect("hs_a", "hs_b"))).cast("long")
        union = F.size(F.array_distinct(F.concat("hs_a", "hs_b"))).cast("long")
        return inter * 1_000_000 >= F.lit(thr_ppm) * union

    a_sets = sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    b_sets = sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    conf = (
        cand.join(a_sets, "id_a")
        .join(b_sets, "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.coalesce(F.sum(is_true().cast("long")), F.lit(0).cast("long")).alias(
                "true_pos"
            ),
        )
    )
    samp_a = a_sets.filter(F.col("id_a") % sample_mod == 0)
    samp_b = b_sets.filter(F.col("id_b") % sample_mod == 0)
    truep = (
        samp_a.crossJoin(samp_b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(is_true())
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    st = truep.agg(F.count(F.lit(1)).alias("sample_true_pairs"))
    sc = truep.join(cand, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("sample_caught")
    )

    def ppm(num: str, den: str) -> Column:
        return F.expr(
            f"CASE WHEN {den} = 0 THEN 1000000L ELSE"
            f" (cast({num} as decimal(38,0)) * 2000000 + {den})"
            f" div (cast({den} as decimal(38,0)) * 2) END"
        )

    return conf.crossJoin(st).crossJoin(sc).select(
        "n_candidates",
        "true_pos",
        (F.col("n_candidates") - F.col("true_pos")).alias("false_pos"),
        ppm("true_pos", "n_candidates").alias("precision_ppm"),
        "sample_true_pairs",
        "sample_caught",
        ppm("sample_caught", "sample_true_pairs").alias("recall_ppm"),
    )


# Gate for resolving connected components driver-side: 2M edges ≈ 32 MB of
# id pairs — trivially within driver heap.  The LSH candidate-edge set is
# orders of magnitude smaller than the corpus (it holds near-duplicate pairs
# only), so even multi-TB corpora usually fit; truly huge duplicate graphs
# fall through to the fully-distributed propagation below.
_DRIVER_CC_MAX_EDGES = 2_000_000


def _components_min_label(ids: DataFrame, edges: DataFrame) -> DataFrame:
    """(id, label) with label = min id of the node's connected component.

    Hybrid strategy, same shape as broadcast-vs-shuffle join selection: the
    edge set is materialized once (both paths need it), counted, and resolved
    driver-side with path-compressed union-find when it fits under
    ``_DRIVER_CC_MAX_EDGES`` — one collect of the *edge set only* (never the
    corpus) replaces O(log diameter) rounds of distributed joins, each of
    which costs a full job at any scale.  Bigger graphs use pointer-doubling
    min-label propagation, which never materializes more than (node, label)
    pairs per round."""
    # LAZY checkpoint + collect, not eager + collect: the eager variant
    # materialized every edge partition in one pass and then re-read them in
    # a second limit job — two synchronous driver waits per query for a
    # frame the collect consumes whole anyway.  The lazy cut still persists
    # partitions as the collect computes them (the fallback path below reads
    # the stored blocks, or recomputes the rare overflow remainder), and the
    # limit(MAX+1) over it returns everything when the graph fits (n <= MAX
    # rows means nothing was truncated) plus a cheap overflow signal when not.
    edges = edges.select("id_a", "id_b").localCheckpoint(eager=False)
    collected = edges.limit(_DRIVER_CC_MAX_EDGES + 1).collect()
    if len(collected) > _DRIVER_CC_MAX_EDGES:
        return _propagate_min_label(ids, edges)
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in collected:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so every root is its component's min id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(x, find(x)) for x in parent]
    spark = ids.sparkSession
    id_field = ids.schema["id"]
    schema = f"id {id_field.dataType.simpleString()}, label {id_field.dataType.simpleString()}"
    # Arrow path, not the pickled-RDD path: createDataFrame(list) plans a
    # scan whose every task round-trips a Python worker to unpickle its
    # slice — and this frame is consumed several times downstream, so each
    # consumer re-paid ~32 near-idle tasks (measured: 0.3-0.7 s stages with
    # ~0 CPU in every minhash-family query).  A pandas/Arrow local frame
    # decodes in the JVM with no Python in the executed plan (guide §6:
    # Arrow for driver transfers).
    if rows:
        import pandas as pd

        touched = spark.createDataFrame(
            pd.DataFrame(rows, columns=["id", "label"]), schema
        )
    else:
        touched = spark.createDataFrame([], schema)
    untouched = ids.join(F.broadcast(touched.select("id")), "id", "left_anti").select(
        F.col("id"), F.col("id").alias("label")
    )
    return touched.unionAll(untouched)


def _propagate_min_label(ids: DataFrame, edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Min-label propagation with pointer doubling: labels converge to the min
    id of each connected component in O(log diameter) rounds.

    Each round combines (a) the neighbor-min hash step and (b) a pointer jump
    ``label ← label(label)`` — the Hash-Min + shortcut scheme from the
    MapReduce connected-components literature — so chain-shaped components
    collapse exponentially instead of one hop per round.  The convergence
    check rides the materialized frame itself (a ``changed`` flag computed in
    the round's plan), not a separate join of two checkpoints, so every round
    costs exactly one materialization job plus one cheap scan of it."""
    # edges are tiny relative to the corpus (LSH output): materialize once so
    # the upstream candidate pipeline isn't re-run every propagation round.
    # Only edge-touched nodes participate — every other node keeps its own
    # label by construction, so the per-round joins scale with the duplicate
    # graph, not the corpus.
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint(eager=False)
    )
    touched = sym.select(F.col("src").alias("id")).distinct()
    untouched = ids.join(touched, "id", "left_anti").select(F.col("id"), F.col("id").alias("label"))
    labels = touched.select(F.col("id"), F.col("id").alias("label"))
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(neighbor_min, labels.id == neighbor_min.dst, "left").select(
            "id",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
        )
        # pointer jump: labels only ever decrease toward component minima and
        # every label value is itself a touched id, so label(label) exists and
        # is ≤ label — one extra hash join halves the remaining diameter
        lut = stepped.select(F.col("id").alias("l_id"), F.col("label").alias("l_label"))
        new_labels = stepped.join(lut, stepped.label == lut.l_id).select(
            "id",
            F.least(F.col("label"), F.col("l_label")).alias("label"),
            (F.least(F.col("label"), F.col("l_label")) != F.col("old")).alias("changed"),
        )
        labels = new_labels.localCheckpoint(eager=True)  # truncate lineage each round
        if labels.filter("changed").limit(1).count() == 0:
            break
    return labels.select("id", "label").unionAll(untouched)


def _minhash_rep_labels(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    threshold: float,
    seed: int,
    portable: bool,
) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash clustering cascade: exact-dedup reps (checkpointed) and
    their (id, label) cluster assignment from LSH candidate edges + min-label
    propagation.  Both keep policies (min-id, keep-best) differ ONLY in how
    they pick a representative from these labels — any change to the cascade
    (gates, checkpoints, banding) lands here once."""
    reps = exact_dedup(df, id_col, text_col).localCheckpoint(eager=False)
    pairs = minhash_lsh_pairs(
        reps, id_col, text_col, num_hashes, bands, shingle_k, threshold, seed, portable
    )
    ids = reps.select(F.col(id_col).alias("id"))
    return reps, _components_min_label(ids, pairs)


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Fuzzy dedup: keep one representative (min id) per near-duplicate
    cluster; clusters come from LSH candidate edges + label propagation.

    Runs the exact-dedup cascade first: identical texts collapse to their min
    id before any shingling, so the expensive signature pass sees each
    distinct text once.  Semantics are unchanged — an exact-dup group shares
    one signature, so its members always land in the same fuzzy cluster and
    only the group min could ever be the cluster min.  On real corpora
    (20-50 % exact-dup rate at crawl scale) this halves the dominant cost."""
    _, labels = _minhash_rep_labels(
        df, id_col, text_col, num_hashes, bands, shingle_k, threshold, seed, portable
    )
    keep = labels.filter(F.col("id") == F.col("label")).select(F.col("id").alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


def minhash_dedup_keep_best(
    df: DataFrame,
    id_col: str,
    score_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Fuzzy dedup keeping the BEST member per near-duplicate cluster —
    highest ``score_col`` (ties: lowest id) — instead of the arbitrary
    min-id representative.  The standard curation refinement: when a page
    was crawled five times, keep the longest/cleanest capture, not the one
    with the smallest crawl id.

    ``score_col`` must be integer-valued and text-determined (equal texts ⇒
    equal scores, e.g. a length or an integer quality grade): the exact-dup
    cascade collapses identical texts to their min id BEFORE clustering, and
    only with text-determined scores is that min id also the (score desc,
    id asc) winner of its exact group — so the cascade stays a pure
    optimization.  Integer-valued keeps the argmax reproducible across
    engines (float scores tie-break on sub-ulp noise).

    Scale shape matches :func:`minhash_dedup` plus one extra hash shuffle on
    the cluster label for the per-cluster top-1 (WindowGroupLimit, partial
    top-1 map-side) — labels are one row per surviving rep, not per corpus
    row."""
    from pyspark.sql.window import Window

    reps, labels = _minhash_rep_labels(
        df, id_col, text_col, num_hashes, bands, shingle_k, threshold, seed, portable
    )
    scored = labels.join(
        reps.select(F.col(id_col).alias("id"), F.col(score_col).alias("__score")), "id"
    )
    w = Window.partitionBy("label").orderBy(F.col("__score").desc(), F.col("id").asc())
    keep = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("id").alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


# --- SimHash --------------------------------------------------------------


def simhash64(col: Column) -> Column:
    """64-bit SimHash from whitespace tokens, pure Catalyst and single-pass:
    one ``aggregate`` over the token-hash array keeps 64 bit-votes in the
    accumulator (per bit: +1/-1 by the token hash's bit), then the votes fold
    into a long.  Each token is hashed exactly once; no shuffle."""
    th = F.transform(tokens(col), lambda t: F.xxhash64(t))
    votes = F.aggregate(
        th,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.transform(
            acc,
            lambda v, i: v
            + F.when(
                F.call_function("shiftright", h, i.cast("int")).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        ),
    )
    bits = F.transform(
        votes,
        # shiftleft with a column index so bit 63 wraps into the sign bit
        lambda v, i: F.when(
            v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i.cast("int"))
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc.bitwiseOR(b))


def simhash_signatures(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, sh) 64-bit SimHashes via explode + 64 ``sum`` vote aggregates —
    the codegen'd shape (same rationale as ``minhash_signatures``).  Docs with
    no tokens get sh=0, matching the fold-from-empty of ``simhash64``."""
    th = _spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    ).select("id", F.xxhash64("t").alias("h"))
    # SQL-string aggregate list (see minhash_signatures for the py4j rationale)
    votes_arr = (
        "array("
        + ",".join(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END)" for i in range(64)
        )
        + ")"
    )
    votes = th.groupBy("id").agg(F.expr(votes_arr).alias("v"))
    # fold bit-votes into one long; shiftleft(1L, 63) wraps into the sign bit,
    # matching the -(1<<63) literal of the row-local simhash64 fold
    hashed = votes.select(
        "id",
        F.expr(
            "aggregate(sequence(0, 63), 0L,"
            " (acc, i) -> acc | IF(element_at(v, i + 1) > 0, shiftleft(1L, i), 0L))"
        ).alias("sh"),
    )
    # explode drops token-less docs; restore them with the empty-fold value 0
    return (
        df.select(F.col(id_col).alias("id"))
        .join(hashed, "id", "left")
        .select("id", F.coalesce(F.col("sh"), F.lit(0).cast("long")).alias("sh"))
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_halves(
    df: DataFrame, id_col: str, text_col: str = "text", portable: bool = False
) -> DataFrame:
    """(id, lo, hi) SimHash as two unsigned 32-bit halves carried in longs.

    The split shape avoids signed-64 wraparound entirely, which keeps the
    arithmetic identical across Spark, DuckDB (oracle) and Python (tests).
    ``portable=False`` derives the halves from the xxhash64-based
    ``simhash_signatures``; ``portable=True`` recomputes the votes from
    md5-derived 32-bit token hashes (the oracle-replayable leaf)."""
    if not portable:
        sh = simhash_signatures(df, id_col, text_col)
        return sh.select(
            "id",
            F.col("sh").bitwiseAND(F.lit(0xFFFFFFFF)).alias("lo"),
            F.shiftrightunsigned(F.col("sh"), 32).alias("hi"),
        )
    th = _spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    ).select(
        "id",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long").alias("hl"),
        F.conv(F.substring(F.md5("t"), 9, 8), 16, 10).cast("long").alias("hh"),
    )
    votes_arr = (
        "array("
        + ",".join(
            f"sum(CASE WHEN (shiftright({'hl' if i < 32 else 'hh'}, {i % 32}) & 1) = 1"
            " THEN 1 ELSE -1 END)"
            for i in range(64)
        )
        + ")"
    )
    votes = th.groupBy("id").agg(F.expr(votes_arr).alias("v"))
    half = (
        "aggregate(sequence(0, 31), 0L,"
        " (acc, i) -> acc | IF(element_at(v, i + {off} + 1) > 0, shiftleft(1L, i), 0L))"
    )
    hashed = votes.select(
        "id", F.expr(half.format(off=0)).alias("lo"), F.expr(half.format(off=32)).alias("hi")
    )
    zero = F.lit(0).cast("long")
    return (
        df.select(F.col(id_col).alias("id"))
        .join(hashed, "id", "left")
        .select("id", F.coalesce("lo", zero).alias("lo"), F.coalesce("hi", zero).alias("hi"))
    )


def simhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup: bucket by 16-bit chunks (pigeonhole: any pair within
    hamming ≤ 3 shares at least one of 4 chunks), verify hamming in-bucket,
    cluster, keep min id.  Exact-dup cascade first (see minhash_dedup)."""
    full = df
    df = exact_dedup(df, id_col, text_col).localCheckpoint(eager=False)
    sh = simhash_halves(df, id_col, text_col, portable).localCheckpoint(
        eager=False
    )  # hash pass runs once, not once per self-join side (dropping this
    # cut for AQE exchange reuse measured as a wash at best — the minhash
    # twin of the same r12 experiment regressed 11.8%; see minhash_lsh_pairs)
    mask = F.lit(0xFFFF)
    chunks = sh.select(
        "id",
        "lo",
        "hi",
        F.posexplode(
            F.array(
                F.col("lo").bitwiseAND(mask),
                F.shiftrightunsigned("lo", 16),
                F.col("hi").bitwiseAND(mask),
                F.shiftrightunsigned("hi", 16),
            )
        ).alias("chunk_idx", "chunk"),
    )
    left = chunks.select(
        "chunk_idx", "chunk", F.col("id").alias("id_a"),
        F.col("lo").alias("lo_a"), F.col("hi").alias("hi_a"),
    )
    right = chunks.select(
        "chunk_idx", "chunk", F.col("id").alias("id_b"),
        F.col("lo").alias("lo_b"), F.col("hi").alias("hi_b"),
    )
    # hamming filter BEFORE the dropDuplicates exchange: the verify is a
    # per-row bit_count on columns already in hand, while the dedup is a
    # shuffle — filtering first sends only true near-dup pairs (and only
    # their ids) through it instead of every bucket collision carrying four
    # signature halves (guide §2.3).  Same pairs out: the hamming predicate
    # is functionally determined by (id_a, id_b).
    pairs = (
        left.join(right, ["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (hamming64(F.col("lo_a"), F.col("lo_b")) + hamming64(F.col("hi_a"), F.col("hi_b")))
            <= max_hamming
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ids = df.select(F.col(id_col).alias("id"))
    labels = _components_min_label(ids, pairs)
    keep = labels.filter(F.col("id") == F.col("label")).select(F.col("id").alias(id_col))
    return full.join(keep, on=id_col, how="left_semi")


# --- n-gram Jaccard -------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    group_cols: Optional[list[str]] = None,
    n: int = 3,
    threshold: float = 0.5,
    allow_ungrouped: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within the same group.

    This is the *verification-grade* measure (MinHash estimates it); the
    group columns bound the O(n²) comparison — at scale you pass LSH buckets
    or metadata partitions, never the whole corpus.  Calling without
    ``group_cols`` is an O(n²) cartesian product over the whole input; that
    is only sane on an already-tiny candidate set, so it must be opted into
    explicitly with ``allow_ungrouped=True``."""
    if not group_cols and not allow_ungrouped:
        raise ValueError(
            "ngram_jaccard_pairs without group_cols is a full cartesian "
            "product; pass LSH-bucket/group columns, or allow_ungrouped=True "
            "if the input is a small pre-filtered candidate set"
        )
    sh = F.array_distinct(shingles(F.col(text_col), n))
    gcols = group_cols or []
    base = df.select(*gcols, F.col(id_col).alias("id"), sh.alias("sh"))
    a = base.select(*gcols, F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(*gcols, F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = a.join(b, gcols) if gcols else a.crossJoin(b)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        # unrounded: identical integer inputs → identical double on both engines
        .withColumn("jaccard", inter * F.lit(1.0) / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_df: int = 20,
    portable: bool = False,
    min_kept: int = 3,
) -> DataFrame:
    """ASYMMETRIC shingle containment: directed pairs where
    ``|S(a) ∩ S(b)| / |S(a)|`` ≥ threshold — doc ``a`` is (mostly)
    contained in doc ``b``.  This is the quote/excerpt/superset signal
    Jaccard structurally misses: a 50-word quote inside a 5000-word
    article has Jaccard ≈ 0.01 but containment ≈ 1.0 (Broder 1997's
    resemblance-vs-containment distinction).

    Scale shape: candidates come from an inverted-index EQUI-join on
    shingle hash — bucketed, never all-pairs — and ``max_df`` drops
    shingles whose document frequency exceeds the cap BEFORE the
    self-join (boilerplate shingles are both noise in the measure and a
    D² pair bomb; the df table grows with the corpus so the semi-join
    carries no broadcast hint, AQE sizes it).  Integer counts + one
    rounded division: oracle-replayable.

    Measurement contract: containment is computed over RETAINED (rare)
    shingles only — numerator AND denominator.  Scores are therefore
    relative to the distinctive-shingle space, NOT the raw text: a doc
    that is mostly boilerplate scores on what remains, which can be
    HIGHER than its raw-text containment.  ``min_kept`` is the noise
    floor for that effect — docs with fewer than ``min_kept`` retained
    shingles emit no pairs as the contained (``id_a``) side, so a
    boilerplate-heavy doc can't be flagged off one coincidental rare
    shingle.

    Returns (id_a, id_b, shared, containment): ``a`` contained-in ``b``,
    both directions possible since the measure is asymmetric."""
    if max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    if min_kept < 1:
        raise ValueError(f"min_kept must be >= 1, got {min_kept}")
    sh = df.select(
        F.col(id_col).alias("__id"),
        F.explode(shingle_hashes(F.col(text_col), shingle_k, portable=portable)).alias(
            "__h"
        ),
    )
    rare = (
        sh.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("__h")
    )
    kept = sh.join(rare, "__h").localCheckpoint(eager=False)  # feeds sizes + both join sides
    sizes = (
        kept.groupBy("__id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_kept)
    )
    a = kept.select(F.col("__id").alias("__ida"), "__h")
    b = kept.select(F.col("__id").alias("__idb"), "__h")
    pairs = (
        a.join(b, "__h")
        .filter(F.col("__ida") != F.col("__idb"))
        .groupBy("__ida", "__idb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(sizes, pairs["__ida"] == sizes["__id"])
        .withColumn("containment", F.round(F.col("shared") / F.col("__n"), 6))
        .filter(F.col("containment") >= threshold)
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            "shared",
            "containment",
        )
    )


def span_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 8,
    max_fp_df: int = 20,
) -> DataFrame:
    """Exact-substring overlap dedup: document pairs sharing at least
    ``min_shared`` winnowed rolling-hash fingerprints — the verbatim-span
    signal (quotes, mirrored passages, licence blocks embedded in
    otherwise-different documents) that whole-document MinHash
    under-weights because the span is a small fraction of either doc.
    This is the bucketed approximation of suffix-array substring dedup
    ("Deduplicating Training Data Makes Language Models Better"):
    winnowing guarantees any shared run of ~k+w chars contributes at
    least one common fingerprint.

    Scale shape: fingerprints are row-local (~1 per ``w`` chars, the
    vectorized-numpy UDF of ``winnowing_fingerprints``); candidates come
    from an EQUI-join on fingerprint value — bucketed exactly like the LSH
    band join, never all-pairs.  ``max_fp_df`` drops fingerprints whose
    document frequency exceeds the cap BEFORE the self-join — both the
    signal fix (corpus-wide boilerplate is not duplication) and the skew
    guard (one df-D fingerprint alone creates D²/2 candidate pairs; at
    web scale header/footer fingerprints have df in the millions).  The
    rare-fingerprint table grows with the corpus, so it carries no
    broadcast hint — AQE sizes that join.

    Returns (id_a, id_b, shared) with ``id_a < id_b``; ``shared`` counts
    DISTINCT common fingerprints (per-doc fingerprints are distinct by
    construction)."""
    from fineo_readerator_spark.llm_ops.textstats import winnowing_fingerprints

    if max_fp_df < 1:
        raise ValueError(f"max_fp_df must be >= 1, got {max_fp_df}")
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    fps = winnowing_fingerprints(df.select(id_col, text_col), text_col, k, w)
    # explode drops NULL fingerprint arrays: NULL text contributes no spans.
    # checkpoint: (fp, id) feeds the df-cap aggregate AND both self-join
    # sides — without it Catalyst re-evaluates the winnowing UDF per subtree
    # (4 corpus passes instead of 1)
    f = fps.select(
        F.col(id_col).alias("__id"), F.explode("fps").alias("fp")
    ).localCheckpoint(eager=False)
    rare = (
        f.groupBy("fp")
        .agg(F.count_distinct("__id").alias("__df"))
        .filter(F.col("__df") <= max_fp_df)
        .select("fp")
    )
    ff = f.join(rare, ["fp"])
    left = ff.select(F.col("__id").alias("id_a"), "fp")
    right = ff.select(F.col("__id").alias("id_b"), "fp")
    return (
        left.join(right, ["fp"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def span_overlap_oracle_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 8,
    max_fp_df: int = 20,
) -> str:
    from fineo_readerator_spark.llm_ops.textstats import winnowing_oracle_sql

    fps = winnowing_oracle_sql(table, id_col, text_col, k, w)
    return f"""
WITH f AS (SELECT {id_col} AS __id, unnest(fps) AS fp FROM ({fps})),
rare AS (SELECT fp FROM f GROUP BY fp HAVING count(DISTINCT __id) <= {max_fp_df}),
ff AS (SELECT __id, fp FROM f WHERE fp IN (SELECT fp FROM rare))
SELECT a.__id AS id_a, b.__id AS id_b, count(*) AS shared
FROM ff a JOIN ff b ON a.fp = b.fp AND a.__id < b.__id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}
"""


# --- incremental dedup against a persisted signature store -----------------

_STORE_SIGS_SCHEMA = "id long, sig array<bigint>"
_STORE_BANDS_SCHEMA = "id long, band_hash bigint, band_idx int"
# the parameter keys every store meta MUST carry (write_signature_store
# always writes all of them; a meta missing any is a corrupt build — there
# is deliberately NO default fallback, see read_store_meta)
_STORE_PARAM_DEFAULTS = {
    "num_hashes": 64,
    "bands": 16,
    "shingle_k": 3,
    "seed": 42,
    "portable": False,
}


def write_signature_store(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> None:
    """Persist the corpus's MinHash state so future batches dedupe against
    it WITHOUT rescanning the corpus — the daily-ingest shape at 100 TB:
    the store is written once (and appended per accepted batch), and each
    delta pays only its own signature pass plus a band-keyed join.

    Layout: ``<path>/sigs`` = (id, sig[num_hashes]); ``<path>/bands`` =
    (id, band_hash) partitioned by band_idx, so a probe scans one band dir
    per band; ``<path>/_store_meta.json`` = the hash-family parameters,
    written LAST (doubles as the build-completed marker).  Probes take
    their parameters FROM the meta, so a store built with one family can
    never be silently probed with another (mismatched bands/seed/leaf
    would return false negatives with no error).  At cluster scale,
    additionally bucket ``bands`` by band_hash
    (``operators.scale.write_bucketed``) to make the delta join
    co-located."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    import json

    r = num_hashes // bands
    # Invalidate FIRST: a rebuild over an existing store must delete the old
    # meta before touching sigs/bands, or a crash mid-rebuild leaves stale
    # parameters alongside new data — a store read_store_meta would accept
    # but probe with the wrong hash family (silent false negatives).  With
    # the meta gone, an interrupted rebuild reads as incomplete instead.
    _fs_delete(df.sparkSession, f"{path}/_store_meta.json")
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k, seed, portable)
    sigs.write.mode("overwrite").parquet(f"{path}/sigs")
    # band-explode from the WRITTEN sigs: the signature aggregation runs
    # once, not once per output table (explicit schema: an EMPTY corpus
    # writes a file-less sigs dir that schema inference cannot read)
    stored = df.sparkSession.read.schema(_STORE_SIGS_SCHEMA).parquet(f"{path}/sigs")
    _band_explode(stored, bands, r).write.mode("overwrite").partitionBy(
        "band_idx"
    ).parquet(f"{path}/bands")
    _fs_write_text(
        df.sparkSession,
        f"{path}/_store_meta.json",
        json.dumps(
            {
                "num_hashes": num_hashes,
                "bands": bands,
                "shingle_k": shingle_k,
                "seed": seed,
                "portable": portable,
            }
        ),
    )


def _fs_delete(spark, path: str) -> None:
    """Delete a file through the Hadoop FileSystem (no-op when absent) —
    same-filesystem rationale as :func:`_fs_write_text`."""
    from fineo_readerator_spark.session import hadoop_fs

    fs, p = hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, False)


def _fs_write_text(spark, path: str, text: str) -> None:
    """Write a small text file through the Hadoop FileSystem — the sigs and
    bands go through Spark writers, so the meta must use the SAME
    filesystem (local pathlib would crash on s3a/hdfs store paths AFTER
    the data was written, leaving a complete-looking meta-less store)."""
    from fineo_readerator_spark.session import hadoop_fs

    fs, p = hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark, path: str) -> str:
    """Read a small text file through the Hadoop FileSystem (raises
    ValueError when absent) — the read twin of :func:`_fs_write_text`, so
    derived-store pointers/metas on s3a/hdfs read through the same
    filesystem their data was written to."""
    from fineo_readerator_spark.session import hadoop_fs

    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        raise ValueError(f"no such file: {path!r}")
    stream = fs.open(p)
    try:
        raw = bytes(
            spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return raw.decode("utf-8")


def read_store_meta(spark, store_path: str) -> dict:
    """The store's hash-family parameters.  A missing/incomplete meta is an
    ERROR, never a silent fallback: probing with a guessed family returns
    false negatives with no signal, which is strictly worse than failing
    (the meta is written last, so its absence also means the build never
    finished).  Transient IO failures (permissions, object-store 503s)
    re-raise as-is — they do NOT mean the store needs a rebuild."""
    import json

    from fineo_readerator_spark.session import hadoop_fs

    fs, p = hadoop_fs(spark, f"{store_path}/_store_meta.json")
    # transient FS failures (permissions, 503s) re-raise from exists/open
    # as-is: they do NOT mean the store needs a rebuild
    if not fs.exists(p):
        raise ValueError(
            f"signature store at {store_path!r} has no _store_meta.json "
            "(incomplete or pre-meta build) — rebuild it with write_signature_store"
        )
    raw = _fs_read_text(spark, f"{store_path}/_store_meta.json")
    try:
        meta = json.loads(raw)
    except ValueError as e:
        raise ValueError(
            f"signature store meta at {store_path!r} is corrupt — rebuild it "
            "with write_signature_store"
        ) from e
    missing = set(_STORE_PARAM_DEFAULTS) - set(meta)
    if missing:
        # write_signature_store always writes every key: a partial meta is a
        # corrupt build, and guessing the absent parameters would be the
        # silent-false-negative mode this file exists to prevent
        raise ValueError(
            f"signature store meta at {store_path!r} is missing {sorted(missing)} "
            "— rebuild it with write_signature_store"
        )
    return dict(meta)


def probe_signature_store(
    delta_sigs: DataFrame,
    store_path: str,
    threshold: float = 0.7,
) -> DataFrame:
    """Verified near-dup pairs (id, base_id, est) between delta signatures
    and the stored corpus — the shared core of the batch flags and the
    streaming probe.  ``delta_sigs`` is (id, sig) rows, batch OR streaming.
    Band parameters come from the store's meta, never from the caller.
    Explicit read schemas make an empty store (brand-new tenant) an empty
    result, not an inference error.

    Stream-safety: the sig rides THROUGH the banding explode (row-local),
    so every candidate verifies against the signature of the exact row
    that banded — there is no join back to ``delta_sigs``, which on a
    stream would be an unbounded stream-stream self-join and would pair a
    re-ingested id's old bands with its new signature.  The only stateful
    step is the (id, base_id) pair-dedup; joins are stream-static."""
    spark = delta_sigs.sparkSession
    meta = read_store_meta(spark, store_path)
    num_hashes = meta["num_hashes"]
    r = num_hashes // meta["bands"]
    base_bands = spark.read.schema(_STORE_BANDS_SCHEMA).parquet(
        f"{store_path}/bands"
    ).select("band_idx", "band_hash", F.col("id").alias("base_id"))
    base_sigs = (
        spark.read.schema(_STORE_SIGS_SCHEMA)
        .parquet(f"{store_path}/sigs")
        .select(F.col("id").alias("base_id"), F.col("sig").alias("sig_b"))
        # replayed maintenance appends leave EXACT duplicate sig rows —
        # collapse them on the static side (deterministic: copies are
        # identical).  A re-ingested id with CHANGED text keeps both of its
        # distinct sigs; each emits its own (id, base_id, est) row below.
        .dropDuplicates()
    )
    cand = (
        _band_explode(delta_sigs, meta["bands"], r, keep=("sig",))
        .join(base_bands, ["band_idx", "band_hash"])
        .dropDuplicates(["id", "base_id"])
    )
    agree = F.aggregate(
        F.zip_with("sig", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    # output is a deterministic SET of (id, base_id, est): the static-side
    # dedup above collapses replay copies, and the distinct-row dedup here
    # is stream-legal (a groupBy-max fold is not: streaming aggregations
    # need a watermark in append mode).  Consumers that want one number per
    # pair aggregate downstream (countDistinct/max in the flags paths).
    return (
        cand.join(base_sigs, "base_id")
        .withColumn("est", F.round(agree * F.lit(1.0) / num_hashes, 4))
        .filter(F.col("est") >= threshold)
        .dropDuplicates(["id", "base_id", "est"])
        .select("id", "base_id", "est")
    )


def append_to_signature_store(sigs: DataFrame, store_path: str) -> None:
    """Append (id, sig) rows to an existing signature store: sigs FIRST,
    band rows second — a band row only becomes a candidate once its
    signature exists, so a reader between the two writes sees a smaller
    store, never a candidate whose verification row is missing.  The band
    parameters come from the store meta (the family is immutable per
    store).  Appends are at-least-once under streaming replays; probes
    tolerate duplicate rows (``probe_signature_store`` pair-dedup,
    ``incremental_minhash_flags`` countDistinct/max aggregates)."""
    spark = sigs.sparkSession
    meta = read_store_meta(spark, store_path)
    r = meta["num_hashes"] // meta["bands"]
    sigs.select("id", "sig").write.mode("append").parquet(f"{store_path}/sigs")
    _band_explode(sigs, meta["bands"], r).write.mode("append").partitionBy(
        "band_idx"
    ).parquet(f"{store_path}/bands")


def admit_batch_to_store(
    batch: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
) -> DataFrame:
    """One ingest-admission step: sign the batch with the STORE's hash
    family, flag near-dups of the stored corpus, append the NON-dup
    signatures to the store, and return the batch's flags.  The batch is
    admitted against the store as of its start — two near-dup docs inside
    ONE batch are both admitted (the reference's daily-window semantics);
    across batches the store has grown, so the second arrival is rejected.
    Returns ONE flag row per batch doc (same contract as
    ``incremental_minhash_flags``; the left join back to the batch pins it
    even if a future signature path drops rows).  NULL/empty texts carry
    the pinned degenerate signature (the hash of the empty shingle), so
    ALL content-free docs are mutual near-dups: the first one admitted
    puts that signature in the store and every later content-free doc is
    rejected against it.

    This is the ``foreachBatch`` body of the streaming maintenance loop."""
    spark = batch.sparkSession
    meta = read_store_meta(spark, store_path)
    sigs = minhash_signatures(
        batch,
        id_col,
        text_col,
        meta["num_hashes"],
        meta["shingle_k"],
        meta["seed"],
        meta["portable"],
    ).localCheckpoint(eager=False)
    verified = probe_signature_store(sigs, store_path, threshold)
    hits = verified.groupBy("id").agg(
        F.countDistinct("base_id").alias("n_dup_bases"),
        F.max("est").alias("best_est"),
    )
    flags = (
        sigs.select("id", "sig")
        .join(hits, "id", "left")
        .withColumn("is_dup", F.col("n_dup_bases").isNotNull())
        .localCheckpoint(eager=True)  # pin the admission decision BEFORE the
        # store grows — lazy evaluation after the append would re-probe the
        # batch against its own newly-appended signatures
    )
    append_to_signature_store(flags.filter(~F.col("is_dup")), store_path)
    # one row per INPUT doc: NULL/shingle-free texts never signed, so they
    # are absent from sigs — surface them as not-dup rather than dropping
    return (
        batch.select(F.col(id_col).alias("id"))
        .join(flags.drop("sig"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_dup_bases", F.lit(0)).alias("n_dup_bases"),
            "best_est",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


def incremental_minhash_flags(
    store_path: str,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
) -> DataFrame:
    """Flag delta docs that near-duplicate the stored corpus: one row per
    delta doc with (n_dup_bases, best_est, is_dup).

    Cost shape: signatures for the DELTA only (computed with the STORE's
    hash family, from its meta); the stored corpus contributes its
    (band_hash, id) rows to an equi-join and its signatures only onto the
    verified candidate set.  Nothing rescans base text."""
    meta = read_store_meta(delta.sparkSession, store_path)
    d_sigs = minhash_signatures(
        delta,
        id_col,
        text_col,
        meta["num_hashes"],
        meta["shingle_k"],
        meta["seed"],
        meta["portable"],
    ).localCheckpoint(eager=False)
    verified = probe_signature_store(d_sigs, store_path, threshold)
    hits = verified.groupBy("id").agg(
        F.countDistinct("base_id").alias("n_dup_bases"),
        F.max("est").alias("best_est"),
    )
    return (
        delta.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_dup_bases", F.lit(0)).alias("n_dup_bases"),
            "best_est",
            F.col("n_dup_bases").isNotNull().alias("is_dup"),
        )
    )


def minhash_cluster_labels(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """The full near-duplicate CLUSTER MAP: every input row labeled with its
    cluster id (the min member id) — what provenance tracking, dup-rate
    dashboards and keep-policy experiments consume, where the dedup
    operators return only the survivors.

    Exact-dup members inherit their representative's cluster: each row maps
    to its min-id exact twin, which carries the label from the clustering
    cascade.  ONE md5 window produces BOTH faces of that (r12 optimization
    round): the full (row → rep) map AND the representative set the
    signature cascade runs on — ``row_number() = 1`` and ``min(id)`` over
    the same text-hash partition, lazily checkpointed, so the window
    executes once (materialized by the cascade's build-time edge collect)
    instead of once in ``exact_dedup`` and again for the final mapping (the
    two executions could never share work: Spark stage caches are
    per-execution, and an extra lineage cut measured as a regression —
    r11 "not yet optimized" list).  The checkpoint stores one row PER INPUT
    ROW — the unavoidable cost of a full mapping output.  Scale adds one
    label join keyed on the rep id; labels are one row per distinct text,
    not per corpus row."""
    from pyspark.sql.window import Window

    wp = Window.partitionBy(F.md5(F.col(text_col)))
    mapped_full = df.select(
        "*",
        F.row_number().over(wp.orderBy(F.col(id_col))).alias("__rn"),
        F.min(id_col).over(wp).alias("__rep"),
    ).localCheckpoint(eager=False)
    # identical row set to exact_dedup(df): lowest-id row per exact text hash
    reps = mapped_full.filter(F.col("__rn") == 1).drop("__rn", "__rep")
    pairs = minhash_lsh_pairs(
        reps, id_col, text_col, num_hashes, bands, shingle_k, threshold, seed,
        portable,
    )
    labels = _components_min_label(reps.select(F.col(id_col).alias("id")), pairs)
    mapped = mapped_full.select(F.col(id_col), F.col("__rep"))
    # dataframe-qualified refs: with id_col == "id" the joined frame holds
    # TWO "id" columns (the caller's and the labels frame's) and a bare
    # F.col(id_col) is ambiguous
    return mapped.join(labels, mapped["__rep"] == labels["id"]).select(
        mapped[id_col], labels["label"].alias("cluster_id")
    )


def minhash_cluster_labels_oracle(
    corpus_sql: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    shingle_k: int = 3,
) -> str:
    """Oracle for ``minhash_cluster_labels(portable=True)`` over
    ``corpus_sql`` (must yield doc_id, text, n_chars)."""
    from fineo_readerator_spark.llm_ops.dedup_oracles import (
        _COMPONENT_CTES,
        _minhash_pairs_ctes,
        _reps_cte,
    )

    return f"""WITH RECURSIVE {_reps_cte(corpus_sql)},
{_minhash_pairs_ctes(num_hashes, bands, threshold, seed, '__reps', shingle_k)},
{_COMPONENT_CTES},
__m AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
  FROM __all
)
SELECT m.doc_id, l.lab AS cluster_id FROM __m m JOIN __lab l ON l.id = m.rep"""


def edit_distance_verify(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_chars: int = 256,
    max_dist_ppm: int = 200_000,
) -> DataFrame:
    """Edit-distance verification rung for candidate near-dup pairs — the
    character-level check between shingle Jaccard (set-based, blind to
    ORDER) and embedding cosine (semantic, blind to surface form): a pair
    that minhash banding surfaced but whose texts differ by more than
    ``max_dist_ppm`` of their length (Levenshtein over a
    ``prefix_chars``-char prefix) is a shingle-collision false positive,
    not an edit-chain near-dup.

    ``pairs`` is any candidate frame with ``id_a``/``id_b`` columns
    (:func:`minhash_lsh_pairs` output composes directly); all its columns
    pass through, plus ``edit_dist`` and ``dist_ppm`` (half-up ppm of
    dist / max prefix length; 0 for two empty prefixes), filtered to
    ``dist_ppm <= max_dist_ppm``.

    Cross-engine note: Spark's ``levenshtein`` counts CHARACTERS while
    DuckDB's counts BYTES (measured: 'héllo'→'hello' is 1 vs 2), so both
    faces fold every non-ASCII codepoint to ``#`` after the prefix cut —
    on the folded ASCII strings bytes == chars and the DP tables agree
    exactly.  The ppm division is never-negative, so both engines'
    truncating integer division agrees (the dyadic_ewma rule).

    Scale shape: work is candidate-set-sized, never corpus² — two
    id-keyed joins of the (tiny) pair frame onto prefix projections, then
    one BANDED DP per pair: the ppm bound implies a hard distance cap
    ``floor((2·max_dist_ppm+1)·prefix_chars / 2·10⁶)`` (half-up algebra —
    any pair over it fails the filter at every possible length), so the
    DP runs Spark's threshold variant at O(prefix·cap) instead of
    O(prefix²) and returns −1 beyond the cap; −1 rows are exactly the
    rows the ppm filter would drop, and every KEPT pair's distance is
    exact (measured 10×: the unbanded DP was 23 s of a 27 s run).  The
    prefix cut is what keeps a 1 MB document from costing a 10¹²-cell
    DP; the oracle computes the full distance and filters — same set."""
    if prefix_chars < 1:
        raise ValueError(f"prefix_chars must be >= 1, got {prefix_chars}")
    if not 0 <= max_dist_ppm <= 1_000_000:
        raise ValueError(
            f"max_dist_ppm must be in [0, 1000000], got {max_dist_ppm}"
        )
    folded = docs.select(
        F.col(id_col).alias("__vid"),
        F.regexp_replace(
            F.substring(F.col(text_col), 1, prefix_chars), "[^\\x00-\\x7F]", "#"
        ).alias("__vtxt"),
    )
    a = folded.select(F.col("__vid").alias("id_a"), F.col("__vtxt").alias("__ta"))
    b = folded.select(F.col("__vid").alias("id_b"), F.col("__vtxt").alias("__tb"))
    dist_cap = ((2 * max_dist_ppm + 1) * prefix_chars) // 2_000_000
    # the DP is CPU-heavy but byte-light, which defeats two engine
    # defaults (measured at 10x: 39 s -> ~6 s):
    # - AQE coalesces the ~30 MB join output to ONE partition (it sizes
    #   by bytes, not CPU), serializing 60k DPs on one core -> spread
    #   the pair frame across the cluster width first;
    # - Catalyst's filter pushdown + project collapse re-evaluate the
    #   levenshtein expression once per filter leg (3x total) and push
    #   it below the exchange -> materialize edit_dist ONCE behind a
    #   lineage cut, then filter on the stored column.
    width = docs.sparkSession.sparkContext.defaultParallelism
    scored = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .repartition(width)
        .withColumn(
            "edit_dist",
            F.levenshtein("__ta", "__tb", dist_cap).cast("long"),
        )
        .localCheckpoint(eager=False)
    )
    out = scored.filter(F.col("edit_dist") >= 0).withColumn(
        "dist_ppm",
        F.expr(
            "cast(CASE WHEN greatest(length(__ta), length(__tb)) = 0"
            "           THEN 0L"
            "      ELSE (cast(edit_dist as decimal(38,0)) * 2000000"
            "            + greatest(length(__ta), length(__tb)))"
            "           div (cast(greatest(length(__ta), length(__tb))"
            "                     as decimal(38,0)) * 2) END as bigint)"
        ),
    )
    return out.filter(F.col("dist_ppm") <= max_dist_ppm).select(
        *pairs.columns, "edit_dist", "dist_ppm"
    )


def cluster_source_purity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Provenance purity of every multi-member near-dup cluster — the
    crawl-forensics question :func:`minhash_cluster_labels` feeds: a
    cluster confined to ONE source is in-site templating (that source's
    dedup problem), a cluster SPANNING sources is mirror/syndication
    duplication (a crawl-frontier problem).  Per cluster with ≥ 2
    members: ``n_members``, ``n_sources`` and the majority source's
    half-up ppm share.

    Scale shape: the cluster map's cost dominates (see
    ``minhash_cluster_labels``); on top of it this is one id-keyed join
    to the (id, group) projection and two cluster-keyed aggregates —
    cluster-cardinality rows, never corpus²."""
    labels = minhash_cluster_labels(
        df, id_col, text_col, num_hashes, bands, shingle_k, threshold, seed,
        portable,
    )
    per_src = (
        labels.join(df.select(F.col(id_col), F.col(group_col).alias("__g")), id_col)
        .groupBy("cluster_id", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    per_cluster = per_src.groupBy("cluster_id").agg(
        F.sum("__c").cast("long").alias("n_members"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.max("__c").cast("long").alias("__top"),
    )
    return (
        per_cluster.filter(F.col("n_members") >= 2)
        .withColumn(
            "top_share_ppm",
            F.expr(
                "cast((cast(__top as decimal(38,0)) * 2000000 + n_members)"
                " div (cast(n_members as decimal(38,0)) * 2) as bigint)"
            ),
        )
        .select("cluster_id", "n_members", "n_sources", "top_share_ppm")
    )


def dup_inflation(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weight_col: str | None = None,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """One-row dedup-savings estimate off the cluster map — the number a
    curator reads BEFORE running the destructive dedup: how much of the
    corpus (docs, and optionally a weight like chars/tokens) sits in
    multi-member near-dup clusters, and how much is REMOVABLE (every
    cluster keeps one representative, sheds members−1).

    ``removable_ppm`` prices the keep-one policy in half-up ppm of the
    weight total; with ``weight_col=None`` the weight is one per doc.
    NULL weights count as 0 (coalesced at projection time): without the
    coalesce, a cluster whose REPRESENTATIVE's weight is NULL would yield
    NULL ``wsum − rep_w`` which ``sum`` silently skips — understating
    removable_weight while total_weight still counts the cluster's
    non-null members (r10 ADVICE).  Cost = the
    :func:`minhash_cluster_labels` map + cluster-cardinality aggregates
    (the cluster_source_purity shape)."""
    labels = minhash_cluster_labels(
        df, id_col, text_col, num_hashes, bands, shingle_k, threshold, seed,
        portable,
    )
    w = (
        F.coalesce(F.col(weight_col).cast("long"), F.lit(0).cast("long"))
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    member = labels.join(
        df.select(F.col(id_col), w.alias("__w")), id_col
    )
    per_cluster = member.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("__w").alias("wsum"),
        # the kept representative is the cluster label = min member id;
        # removable weight = cluster weight minus the representative's
        F.sum(
            F.when(F.col(id_col) == F.col("cluster_id"), F.col("__w"))
        ).alias("rep_w"),
    )
    return per_cluster.agg(
        F.sum("m").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("m") >= 2, F.col("m"))).cast("long").alias(
            "docs_in_clusters"
        ),
        F.sum(F.when(F.col("m") >= 2, F.col("m") - 1)).cast("long").alias(
            "removable_docs"
        ),
        F.sum("wsum").cast("long").alias("total_weight"),
        F.sum(
            F.when(F.col("m") >= 2, F.col("wsum") - F.col("rep_w"))
        ).cast("long").alias("removable_weight"),
    ).select(
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        F.coalesce("docs_in_clusters", F.lit(0)).alias("docs_in_clusters"),
        F.coalesce("removable_docs", F.lit(0)).alias("removable_docs"),
        F.coalesce("total_weight", F.lit(0)).alias("total_weight"),
        F.coalesce("removable_weight", F.lit(0)).alias("removable_weight"),
        F.expr(
            "cast(CASE WHEN coalesce(total_weight, 0) = 0 THEN 0L ELSE"
            " (cast(coalesce(removable_weight, 0) as decimal(38,0)) * 2000000"
            "  + total_weight)"
            " div (cast(total_weight as decimal(38,0)) * 2) END as bigint)"
        ).alias("removable_ppm"),
    )
