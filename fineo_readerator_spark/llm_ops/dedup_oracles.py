"""DuckDB oracle SQL for the MinHash-LSH and SimHash dedup paths.

The Spark pipelines (llm_ops.dedup) and these generators share the leaf hash
(first-15/8 hex chars of md5 parsed as integers), the permutation constants
(``_hash_params`` with the same seed), the banding/chunking layout, and the
cluster rule (connected components, min id wins) — so the oracle replays the
ENTIRE fuzzy-dedup computation bit-for-bit: signatures, candidate generation,
verification, and the transitive-closure clustering (recursive CTE standing
in for the distributed label propagation).

Only the bucket-key hashing differs (Spark buckets band slices by xxhash64
for shuffle economy; the oracle joins on band-slice equality directly).
Absent a 64-bit hash collision — never observed at test scale — the candidate
sets are identical.
"""

from __future__ import annotations

from fineo_readerator_spark.llm_ops.dedup import _MERSENNE_P, _hash_params

# DuckDB lacks conv(hex, 16, 10); parse hex digits positionally instead.
_HEXDIGITS = "0123456789abcdef"


def _hexparse(expr: str, start: int, n: int) -> str:
    """BIGINT from ``n`` hex chars of ``expr`` starting at 1-based ``start``
    — DuckDB equivalent of Spark's ``conv(substring(md5(x), start, n), 16, 10)``."""
    return (
        f"list_sum(list_transform(generate_series(1, {n}),"
        f" i -> (strpos('{_HEXDIGITS}', substr({expr}, CAST(i + {start - 1} AS INT), 1)) - 1)::BIGINT"
        f" * (1::BIGINT << (4 * ({n} - i)))))"
    )


def _shingle_ctes(corpus_cte: str, shingle_k: int = 3) -> str:
    """toks → distinct word-k-shingles → portable shingle hashes, mirroring
    ``dedup.shingles`` / ``dedup.shingle_hashes``."""
    off = shingle_k - 1
    return f"""
__t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> length(x) > 0) AS toks
  FROM {corpus_cte}
),
__s AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {shingle_k}
              THEN list_distinct(list_transform(generate_series(1, len(toks) - {off}),
                                                i -> array_to_string(toks[i:i+{off}], ' ')))
              ELSE [array_to_string(toks, ' ')] END AS sh
  FROM __t
),
__hs AS (
  SELECT doc_id, list_transform(sh, x -> {_hexparse('md5(x)', 1, 15)} % {_MERSENNE_P}) AS hs
  FROM __s
)"""


def _minhash_sig_cte(num_hashes: int, seed: int) -> str:
    """Signatures as 64 VECTORIZED min-aggregates over the exploded
    (doc, shingle-hash) rows — semantically identical to the original
    ``list_min(list_transform(hs, ...))`` per-row lambdas, but DuckDB
    executes plain aggregates ~10x faster than nested list lambdas (the
    lambda version dominated every minhash oracle's runtime).  A NULL-text
    doc carries a single NULL hash row, so every min is NULL — the same
    all-NULL signature the lambda form produced."""
    params = _hash_params(num_hashes, seed)
    mins = ", ".join(
        f"min(({a} * h + {b}) % {_MERSENNE_P})" for a, b in params
    )
    return (
        "__sigex AS (SELECT doc_id, unnest(hs) AS h FROM __hs),\n"
        f"__sig AS (SELECT doc_id, [{mins}] AS sig FROM __sigex GROUP BY doc_id)"
    )


def _minhash_pairs_ctes(
    num_hashes: int, bands: int, threshold: float, seed: int, corpus_cte: str, shingle_k: int = 3
) -> str:
    r = num_hashes // bands
    return f"""{_shingle_ctes(corpus_cte, shingle_k)},
{_minhash_sig_cte(num_hashes, seed)},
__bands AS (
  SELECT doc_id, j, sig[{r}*j+1:{r}*j+{r}] AS band
  FROM __sig, generate_series(0, {bands - 1}) t(j)
),
__cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM __bands a JOIN __bands b ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id
),
__pairs AS (
  SELECT id_a, id_b,
         round(list_sum(list_transform(generate_series(1, {num_hashes}),
               i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / {num_hashes}.0,
               4) AS est_jaccard
  FROM __cand JOIN __sig sa ON sa.doc_id = id_a JOIN __sig sb ON sb.doc_id = id_b
),
__good AS (SELECT * FROM __pairs WHERE est_jaccard >= {threshold})"""


# transitive closure over the near-dup edge set; min reachable id = the same
# label the distributed min-label propagation converges to
_COMPONENT_CTES = """
__sym AS (
  SELECT id_a AS a, id_b AS b FROM __good
  UNION SELECT id_b, id_a FROM __good
),
__comp(id, lab) AS (
  SELECT doc_id, doc_id FROM __reps
  UNION
  SELECT s.b, c.lab FROM __comp c JOIN __sym s ON s.a = c.id
),
__lab AS (SELECT id, min(lab) AS lab FROM __comp GROUP BY id),
__keep AS (SELECT id FROM __lab WHERE id = lab)"""


def _reps_cte(corpus_sql: str) -> str:
    """Exact-dedup cascade: min doc_id per md5(text), mirroring
    ``dedup.exact_dedup``."""
    return f"""__all AS ({corpus_sql}),
__reps AS (
  SELECT doc_id, text, n_chars FROM __all
  WHERE doc_id IN (SELECT min(doc_id) FROM __all GROUP BY md5(text))
)"""


def minhash_pairs_oracle(
    corpus_sql: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    shingle_k: int = 3,
) -> str:
    """Oracle for ``minhash_lsh_pairs`` over ``corpus_sql``
    (must yield doc_id, text, n_chars)."""
    return f"""WITH __all AS ({corpus_sql}),
{_minhash_pairs_ctes(num_hashes, bands, threshold, seed, '__all', shingle_k)}
SELECT id_a, id_b, est_jaccard FROM __good"""


def minhash_audit_oracle(
    corpus_sql: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    shingle_k: int = 3,
    sample_mod: int = 5,
) -> str:
    """Oracle for ``dedup.minhash_audit`` — replays the full
    LSH cascade for the candidate set, then the exact-Jaccard re-score and
    the sampled recall leg with the same integer cross-multiplied threshold
    and half-up ppm arithmetic."""
    thr_ppm = int(round(threshold * 1_000_000))
    exact = (
        "len(list_distinct(list_intersect(a.hs, b.hs))) * 1000000 >= "
        f"{thr_ppm} * len(list_distinct(a.hs || b.hs))"
    )
    return f"""WITH __all AS ({corpus_sql}),
{_minhash_pairs_ctes(num_hashes, bands, threshold, seed, '__all', shingle_k)},
__conf AS (
  SELECT count(*) AS n_candidates,
         CAST(coalesce(sum(CASE WHEN {exact} THEN 1 ELSE 0 END), 0) AS BIGINT) AS true_pos
  FROM __good g JOIN __hs a ON a.doc_id = g.id_a JOIN __hs b ON b.doc_id = g.id_b
),
__samp AS (SELECT doc_id, hs FROM __hs WHERE doc_id % {sample_mod} = 0),
__true AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM __samp a JOIN __samp b ON a.doc_id < b.doc_id
  WHERE {exact}
),
__st AS (SELECT count(*) AS sample_true_pairs FROM __true),
__sc AS (
  SELECT count(*) AS sample_caught
  FROM __true t JOIN __good g ON g.id_a = t.id_a AND g.id_b = t.id_b
)
SELECT n_candidates, true_pos, n_candidates - true_pos AS false_pos,
       CASE WHEN n_candidates = 0 THEN CAST(1000000 AS BIGINT)
            ELSE CAST((CAST(true_pos AS HUGEINT) * 2000000 + n_candidates)
                      // (CAST(n_candidates AS HUGEINT) * 2) AS BIGINT) END AS precision_ppm,
       sample_true_pairs, sample_caught,
       CASE WHEN sample_true_pairs = 0 THEN CAST(1000000 AS BIGINT)
            ELSE CAST((CAST(sample_caught AS HUGEINT) * 2000000 + sample_true_pairs)
                      // (CAST(sample_true_pairs AS HUGEINT) * 2) AS BIGINT) END AS recall_ppm
FROM __conf, __st, __sc"""


def minhash_dedup_oracle(
    corpus_sql: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    shingle_k: int = 3,
) -> str:
    """Oracle for ``minhash_dedup(...).select(doc_id, n_chars)``."""
    return f"""WITH RECURSIVE {_reps_cte(corpus_sql)},
{_minhash_pairs_ctes(num_hashes, bands, threshold, seed, '__reps', shingle_k)},
{_COMPONENT_CTES}
SELECT r.doc_id, r.n_chars FROM __reps r JOIN __keep k ON r.doc_id = k.id"""


def minhash_dedup_keep_best_oracle(
    corpus_sql: str,
    score_expr: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    shingle_k: int = 3,
) -> str:
    """Oracle for ``minhash_dedup_keep_best(...).select(doc_id,
    n_chars)``: same reps/candidates/components as the min-id oracle, but the
    per-cluster keep rule is argmax(``score_expr`` over __reps columns, ties
    to the lowest id)."""
    return f"""WITH RECURSIVE {_reps_cte(corpus_sql)},
{_minhash_pairs_ctes(num_hashes, bands, threshold, seed, '__reps', shingle_k)},
{_COMPONENT_CTES},
__best AS (
  SELECT id FROM (
    SELECT l.id,
           row_number() OVER (PARTITION BY l.lab
                              ORDER BY ({score_expr}) DESC, l.id ASC) AS rn
    FROM __lab l JOIN __reps r ON r.doc_id = l.id
  ) WHERE rn = 1
)
SELECT r.doc_id, r.n_chars FROM __reps r JOIN __best b ON r.doc_id = b.id"""


def _simhash_half_expr(hash_list: str) -> str:
    """Fold 32 bit-votes over ``hash_list`` (list of 32-bit ints) into an
    unsigned half, mirroring ``dedup.simhash_halves``.
    Empty token lists: inner list_sum is NULL, NULL > 0 is false, half = 0 —
    the same zero signature Spark restores via the left join."""
    return (
        "list_sum(list_transform(generate_series(0, 31), i ->"
        " CASE WHEN list_sum(list_transform("
        f"{hash_list}, v -> CASE WHEN (v >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) > 0"
        " THEN (1::BIGINT << CAST(i AS INT)) ELSE 0::BIGINT END))"
    )


def simhash_dedup_oracle(corpus_sql: str, max_hamming: int = 3) -> str:
    """Oracle for ``simhash_dedup(...).select(doc_id, n_chars)``."""
    return f"""WITH RECURSIVE {_reps_cte(corpus_sql)},
__t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> length(x) > 0) AS toks
  FROM __reps
),
__h AS (
  SELECT doc_id,
         list_transform(toks, x -> {_hexparse('md5(x)', 1, 8)}) AS hl,
         list_transform(toks, x -> {_hexparse('md5(x)', 9, 8)}) AS hh
  FROM __t
),
__shs AS (
  SELECT doc_id,
         coalesce({_simhash_half_expr('hl')}, 0) AS lo,
         coalesce({_simhash_half_expr('hh')}, 0) AS hi
  FROM __h
),
__chunks AS (
  SELECT doc_id, lo, hi, ci,
         CASE ci WHEN 0 THEN lo & 65535 WHEN 1 THEN lo >> 16
                 WHEN 2 THEN hi & 65535 ELSE hi >> 16 END AS chunk
  FROM __shs, generate_series(0, 3) t(ci)
),
__cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM __chunks a JOIN __chunks b ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id
),
__good AS (
  SELECT id_a, id_b
  FROM __cand JOIN __shs sa ON sa.doc_id = id_a JOIN __shs sb ON sb.doc_id = id_b
  WHERE bit_count(xor(sa.lo, sb.lo)) + bit_count(xor(sa.hi, sb.hi)) <= {max_hamming}
),
{_COMPONENT_CTES}
SELECT r.doc_id, r.n_chars FROM __reps r JOIN __keep k ON r.doc_id = k.id"""


def _incremental_ver_ctes(
    corpus_sql: str,
    delta_pred: str,
    num_hashes: int,
    bands: int,
    seed: int,
    shingle_k: int,
) -> str:
    """CTE chain up to ``__ver``: delta×base band candidates with their
    signature-agreement estimate (shared by the batch flags oracle and the
    streaming pairs oracle)."""
    r = num_hashes // bands
    return f"""WITH __all AS ({corpus_sql}),
{_shingle_ctes('__all', shingle_k)},
{_minhash_sig_cte(num_hashes, seed)},
__bands AS (
  SELECT doc_id, j, sig[{r}*j+1:{r}*j+{r}] AS band
  FROM __sig, generate_series(0, {bands - 1}) t(j)
),
__cand AS (
  SELECT DISTINCT d.doc_id AS id, b.doc_id AS base_id
  FROM __bands d JOIN __bands b ON d.j = b.j AND d.band = b.band
  WHERE ({delta_pred.replace('doc_id', 'd.doc_id')})
    AND NOT ({delta_pred.replace('doc_id', 'b.doc_id')})
),
__ver AS (
  SELECT id, base_id,
         round(list_sum(list_transform(generate_series(1, {num_hashes}),
               i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / {num_hashes}.0,
               4) AS est
  FROM __cand JOIN __sig sa ON sa.doc_id = id JOIN __sig sb ON sb.doc_id = base_id
)"""


def incremental_pairs_oracle(
    corpus_sql: str,
    delta_pred: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    shingle_k: int = 3,
) -> str:
    """Oracle for the streaming store probe: every verified delta×base
    near-dup pair."""
    return f"""{_incremental_ver_ctes(corpus_sql, delta_pred, num_hashes, bands, seed, shingle_k)}
SELECT id AS doc_id, base_id, est FROM __ver WHERE est >= {threshold}"""


def incremental_flags_oracle(
    corpus_sql: str,
    delta_pred: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    shingle_k: int = 3,
) -> str:
    """Oracle for ``incremental_minhash_flags``: the delta is
    ``corpus_sql`` rows matching ``delta_pred``, the stored base is the rest.
    Signatures depend only on the text, so recomputing them over the full
    corpus here equals the Spark side's store + fresh-delta split."""
    return f"""{_incremental_ver_ctes(corpus_sql, delta_pred, num_hashes, bands, seed, shingle_k)},
__hits AS (
  SELECT id, count(DISTINCT base_id) AS n, max(est) AS best
  FROM __ver WHERE est >= {threshold} GROUP BY id
)
SELECT a.doc_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_dup_bases,
       h.best AS best_est,
       h.n IS NOT NULL AS is_dup
FROM __all a LEFT JOIN __hits h ON h.id = a.doc_id
WHERE {delta_pred.replace('doc_id', 'a.doc_id')}"""


def edit_verify_oracle(
    corpus_sql: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    shingle_k: int = 3,
    prefix_chars: int = 256,
    max_dist_ppm: int = 200_000,
) -> str:
    """Oracle for ``edit_distance_verify(minhash_lsh_pairs(...))`` — the
    full portable LSH candidate cascade, then DuckDB ``levenshtein`` over
    the same ASCII-folded prefixes (DuckDB's levenshtein counts BYTES, so
    the non-ASCII→'#' fold is what makes the two DP tables comparable)
    and the same never-negative half-up ppm division."""
    pairs = minhash_pairs_oracle(
        corpus_sql, num_hashes, bands, threshold, seed, shingle_k
    )
    fold = (
        f"SELECT doc_id, regexp_replace(substr(text, 1, {prefix_chars}),"
        " '[^\\x00-\\x7F]', '#', 'g') AS p"
        f" FROM ({corpus_sql})"
    )
    maxlen = "greatest(len(a.p), len(b.p))"
    ppm = (
        f"CASE WHEN {maxlen} = 0 THEN CAST(0 AS BIGINT)"
        f" ELSE CAST((CAST(levenshtein(a.p, b.p) AS HUGEINT) * 2000000 + {maxlen})"
        f" // (CAST({maxlen} AS HUGEINT) * 2) AS BIGINT) END"
    )
    return f"""
SELECT p.id_a, p.id_b, p.est_jaccard,
       CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist,
       {ppm} AS dist_ppm
FROM ({pairs}) p
JOIN ({fold}) a ON a.doc_id = p.id_a
JOIN ({fold}) b ON b.doc_id = p.id_b
WHERE {ppm} <= {max_dist_ppm}
"""


def cluster_purity_oracle(
    corpus_sql: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    shingle_k: int = 3,
) -> str:
    """Oracle for ``cluster_source_purity`` — the full
    cluster-map replay joined back to the corpus's group column
    (``corpus_sql`` must yield doc_id, text, n_chars, source)."""
    from fineo_readerator_spark.llm_ops.dedup import minhash_cluster_labels_oracle

    labels = minhash_cluster_labels_oracle(
        corpus_sql, num_hashes, bands, threshold, seed, shingle_k
    )
    return f"""
SELECT cluster_id, n_members, n_sources,
       CAST((CAST(top_c AS HUGEINT) * 2000000 + n_members)
            // (CAST(n_members AS HUGEINT) * 2) AS BIGINT) AS top_share_ppm
FROM (
  SELECT cluster_id, CAST(sum(c) AS BIGINT) AS n_members,
         CAST(count(*) AS BIGINT) AS n_sources, max(c) AS top_c
  FROM (
    SELECT l.cluster_id, c.source, count(*) AS c
    FROM ({labels}) l JOIN ({corpus_sql}) c ON c.doc_id = l.doc_id
    GROUP BY 1, 2
  ) GROUP BY 1
) WHERE n_members >= 2
"""


def dup_inflation_oracle(
    corpus_sql: str,
    weight_expr: str = "1",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    shingle_k: int = 3,
) -> str:
    """Oracle for ``dup_inflation`` — the cluster-map
    replay aggregated to the one-row savings report (``weight_expr``
    evaluates over the corpus columns)."""
    from fineo_readerator_spark.llm_ops.dedup import minhash_cluster_labels_oracle

    labels = minhash_cluster_labels_oracle(
        corpus_sql, num_hashes, bands, threshold, seed, shingle_k
    )
    return f"""
WITH __lab AS ({labels}),
__m AS (
  SELECT l.cluster_id, l.doc_id,
         CAST(coalesce(CAST({weight_expr} AS BIGINT), 0) AS BIGINT) AS w
  FROM __lab l JOIN ({corpus_sql}) c ON c.doc_id = l.doc_id
),
__pc AS (
  SELECT cluster_id, count(*) AS m, CAST(sum(w) AS BIGINT) AS wsum,
         CAST(sum(CASE WHEN doc_id = cluster_id THEN w END) AS BIGINT) AS rep_w
  FROM __m GROUP BY cluster_id
),
__agg AS (
  SELECT CAST(coalesce(sum(m), 0) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(CASE WHEN m >= 2 THEN m END), 0) AS BIGINT) AS docs_in_clusters,
         CAST(coalesce(sum(CASE WHEN m >= 2 THEN m - 1 END), 0) AS BIGINT) AS removable_docs,
         CAST(coalesce(sum(wsum), 0) AS BIGINT) AS total_weight,
         CAST(coalesce(sum(CASE WHEN m >= 2 THEN wsum - rep_w END), 0) AS BIGINT)
           AS removable_weight
  FROM __pc
)
SELECT n_docs, docs_in_clusters, removable_docs, total_weight, removable_weight,
       CAST(CASE WHEN total_weight = 0 THEN 0 ELSE
            (CAST(removable_weight AS HUGEINT) * 2000000 + total_weight)
            // (CAST(total_weight AS HUGEINT) * 2) END AS BIGINT) AS removable_ppm
FROM __agg
"""
