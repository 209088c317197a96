"""Driver-contract queries for the LLM-data-pipeline operators over the
``documents`` and ``embeddings`` tables.

EVERY query here carries an exact DuckDB oracle: the fuzzy-dedup operators
have one hash family, the md5 leaf that Spark, DuckDB and Python all compute
(llm_ops.dedup_oracles replays signatures, banding, verification and
clustering bit-for-bit), the multimodal fakes are
sha256/length-derived and replayed positionally, and the IVF ANN uses a
deterministic data-sampled codebook instead of trained k-means (the trained
variant keeps its brute-force-equivalence test in tests/test_llm_ops.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fineo_readerator_spark.llm_ops.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from fineo_readerator_spark.llm_ops.multimodal import (
    attach_media_metadata,
    decode_and_featurize,
    sample_frames,
)
from fineo_readerator_spark.llm_ops.similarity import (
    _hyperplanes,
    cosine,
    cosine_topk,
    ivf_seeded_topk,
    ivf_topk,
    lsh_bucketed_topk,
)
from fineo_readerator_spark.llm_ops.textstats import (
    language_id,
    language_id_oracle_expr,
    text_fingerprint,
    text_fingerprint_oracle_expr,
    text_stats_oracle_exprs,
    winnowing_fingerprints,
    winnowing_oracle_sql,
    with_text_stats,
)
from fineo_readerator_spark.plans.registry import QueryDef, load

_SHIFT = 1_000_000  # synthetic duplicate id offset


def _plane_dot_sql(vec_expr: str, plane: list[float], dim: int) -> str:
    """DuckDB replay of ``similarity._dot`` against one inlined hyperplane."""
    arr = "[" + ", ".join(repr(v) for v in plane) + "]"
    return (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> CAST({vec_expr}[i] AS DOUBLE) * ({arr})[i]))"
    )


def _plane_sig_sql(vec_expr: str, planes: list[list[float]], dim: int) -> str:
    """Sign-bit signature replay of ``similarity.hyperplane_signature`` —
    ``round(dot, 9) >= 0`` mirrors the Spark side's sign-boundary guard, so
    a projection within float-noise of 0 buckets identically in both
    engines."""
    return " | ".join(
        f"(CASE WHEN round({_plane_dot_sql(vec_expr, p, dim)}, 9) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ an id-shifted copy — every text exactly twice, so exact
    dedup must recover precisely the original rows."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    shifted = docs.select((F.col("doc_id") + _SHIFT).alias("doc_id"), "text", "n_chars")
    return docs.unionAll(shifted)


def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs_with_dups(spark, sf_dir), "doc_id", "text").select("doc_id", "n_chars")


D_EXACT_ORACLE = f"""
WITH all_docs AS (
  SELECT doc_id, text, n_chars FROM documents
  UNION ALL SELECT doc_id + {_SHIFT}, text, n_chars FROM documents
)
SELECT doc_id, n_chars FROM all_docs
WHERE doc_id IN (SELECT min(doc_id) FROM all_docs GROUP BY md5(text))
"""


def t_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fineo_readerator_spark.llm_ops.dedup import _spread

    docs = load(spark, sf_dir, "documents")
    # _spread before the CPU-bound tokenize projection: the one-file scan
    # yields 1-2 input partitions and serialized ~0.6 s of per-row stats on
    # 2 cores (A/B idle, min of 4: 0.39 -> 0.20 s); no-op on clusters
    return with_text_stats(_spread(docs.select("doc_id", "text")), "text").select(
        "doc_id", "n_tokens", "n_bpe_tokens", "n_punct", "punct_ratio", "avg_word_len", "quality_score"
    )


T_STATS_ORACLE = f"SELECT doc_id, {text_stats_oracle_exprs('text')} FROM documents"


def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load(spark, sf_dir, "documents"), "text").select("doc_id", "lang", "lang_guess")


T_LANG_ORACLE = f"SELECT doc_id, lang, {language_id_oracle_expr('text')} FROM documents"


def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fingerprint(load(spark, sf_dir, "documents"), "text").select("doc_id", "fingerprint")


T_FP_ORACLE = f"SELECT doc_id, {text_fingerprint_oracle_expr('text')} FROM documents"


def t_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) document fingerprints, exploded to
    (doc_id, fp) rows; the polynomial hash is exact integer arithmetic so
    the oracle replays it bit-for-bit."""
    docs = load(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs).select("doc_id", F.explode("fps").alias("fp"))


T_WINNOW_ORACLE = (
    f"SELECT doc_id, unnest(fps) AS fp FROM ({winnowing_oracle_sql('documents', 'doc_id')})"
)


def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs within (lang, source) groups."""
    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", ["lang", "source"], n=3, threshold=0.2)


D_JACCARD_ORACLE = r"""
WITH t AS (
  SELECT doc_id, lang, source,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS toks
  FROM documents
), s AS (
  SELECT doc_id, lang, source,
         CASE WHEN len(toks) >= 3
              THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                                i -> array_to_string(toks[i:i+2], ' ')))
              ELSE [array_to_string(toks, ' ')] END AS sh
  FROM t
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.sh, b.sh)) * 1.0
           / len(list_distinct(a.sh || b.sh)) AS jaccard
  FROM s a JOIN s b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
) WHERE jaccard >= 0.2
"""


def d_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (llm_ops.dedup.containment_pairs):
    directed doc pairs with |S(a)∩S(b)|/|S(a)| ≥ 0.6 over rare shingles
    (df ≤ 20) — the quote/excerpt/superset signal Jaccard misses.
    Inverted-index equi-join candidates, hot-shingle cap before the
    self-join, integer counts + one rounded division."""
    from fineo_readerator_spark.llm_ops.dedup import containment_pairs

    return containment_pairs(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        shingle_k=3,
        threshold=0.6,
        max_df=20,
        min_kept=3,
    ).orderBy("id_a", "id_b")


def _d_containment_oracle(
    shingle_k: int = 3, threshold: float = 0.6, max_df: int = 20, min_kept: int = 3
) -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import _shingle_ctes

    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents),{_shingle_ctes('corpus', shingle_k)},
ex AS (SELECT doc_id, unnest(hs) AS h FROM __hs),
dfk AS (SELECT h FROM (SELECT h, count(*) AS c FROM ex GROUP BY 1) WHERE c <= {max_df}),
kept AS (SELECT e.doc_id, e.h FROM ex e JOIN dfk USING (h)),
sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1 HAVING count(*) >= {min_kept}),
pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared, round(shared / s.n, 6) AS containment
FROM pr JOIN sz s ON pr.id_a = s.doc_id
WHERE round(shared / s.n, 6) >= {threshold}
ORDER BY id_a, id_b
"""


def s_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 to the vec_id=0 embedding (the exact ANN
    baseline; the LSH-bucketed scale path is covered in tests)."""
    emb = load(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return cosine_topk(emb.filter(F.col("vec_id") != 0), qv, k=10)


S_ANN_ORACLE = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id,
         round(
           list_sum(list_transform(generate_series(1, len(e.embedding)),
                    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           6) AS cos_sim
  FROM embeddings e, q WHERE e.vec_id != 0
)
SELECT vec_id, cos_sim FROM sims ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def s_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: top-5 neighbors for THREE query vectors in one plan — the
    corpus scans once for the whole batch (broadcast queries + per-query
    WindowGroupLimit top-k), vs once per query in the single-vector path."""
    from fineo_readerator_spark.llm_ops.similarity import ann_batch_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    return ann_batch_topk(corpus, queries, k=5)


_BATCH_COS = (
    "round(list_sum(list_transform(generate_series(1, len(c.embedding)),"
    " i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
)

S_ANN_BATCH_ORACLE = f"""
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_BATCH_COS} AS cos_sim,
         CAST(row_number() OVER (PARTITION BY q.vec_id
                                 ORDER BY {_BATCH_COS} DESC, c.vec_id) AS INT) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 3 AND c.vec_id >= 3
) WHERE rank <= 5
"""


def s_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity rerank (llm_ops.similarity.mmr_rerank): MMR top-5 out of
    the exact cosine top-20 to the vec_id=0 query (λ=0.5) — one corpus
    scan for the shortlist, then a driver-local greedy over metadata-sized
    state; the whole walk (shared rounded cosines, exactly-rounded IEEE
    score ops, id tie-breaks) is unrolled step-by-step in the oracle."""
    from fineo_readerator_spark.llm_ops.similarity import mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return mmr_rerank(
        emb.filter(F.col("vec_id") != 0), qv, k=5, shortlist=20, lam=0.5
    )


def _s_mmr_rerank_oracle(k: int = 5, shortlist: int = 20, lam: float = 0.5) -> str:
    """Unrolled MMR greedy: step t picks the remaining shortlist row
    maximizing λ·rel − (1−λ)·max-sim-to-selected (empty set → 0.0), ties to
    the smaller id.  λ and 1−λ interpolate as repr'd literals from the SAME
    python floats the driver-local walk uses."""
    oml = 1.0 - float(lam)
    cos_q = (
        "round(list_sum(list_transform(generate_series(1, len(e.embedding)),"
        " i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
    )
    cos_ab = (
        "round(list_sum(list_transform(generate_series(1, len(a.embedding)),"
        " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
    )
    parts = [
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        f"""rel AS (
  SELECT e.vec_id, {cos_q} AS r
  FROM embeddings e, q WHERE e.vec_id != 0
  ORDER BY r DESC, vec_id LIMIT {shortlist}
)""",
        "base AS (SELECT e.vec_id, e.embedding FROM embeddings e JOIN rel USING (vec_id))",
        f"""sims AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, {cos_ab} AS s
  FROM base a JOIN base b ON a.vec_id != b.vec_id
)""",
        f"p1 AS (SELECT vec_id, r FROM rel ORDER BY ({lam!r} * r) DESC, vec_id LIMIT 1)",
        "sel1 AS (SELECT vec_id FROM p1)",
    ]
    for t in range(2, k + 1):
        parts.append(
            f"""p{t} AS (
  SELECT c.vec_id, c.r FROM rel c
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
  ORDER BY ({lam!r} * c.r - {oml!r} * coalesce(
      (SELECT max(s.s) FROM sims s
       WHERE s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM sel{t - 1})),
      0.0)) DESC, c.vec_id
  LIMIT 1
)"""
        )
        parts.append(
            f"sel{t} AS (SELECT vec_id FROM sel{t - 1} UNION ALL SELECT vec_id FROM p{t})"
        )
    legs = " UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS rank, vec_id, r AS rel FROM p{t}"
        for t in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\nSELECT * FROM ({legs}) ORDER BY rank"


def p_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-export sharding of the document corpus:
    (doc_id, shard, shard_pos) — reproducible shard files regardless of
    cluster partitioning."""
    from fineo_readerator_spark.llm_ops.sampling import shard_for_training

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return shard_for_training(docs, "doc_id", n_shards=8)


def _p_shard_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import shard_oracle_exprs

    shard, pos = shard_oracle_exprs("doc_id", 8)
    return f"SELECT doc_id, {shard} AS shard, {pos} AS shard_pos FROM documents"


def d_embed_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a label group (exact
    in-group verification; LSH bucketing is the tested scale path)."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select("label", F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = emb.select("label", F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cos_sim") >= 0.35)
        .select("id_a", "id_b", "cos_sim")
    )


def d_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over embeddings ∪ an id-shifted copy:
    every vector occurs twice (cosine exactly 1.0 with its copy, same cell),
    so each shifted duplicate MUST be dominated away — plus whatever organic
    in-cell redundancy clears the 0.9 threshold.  Keeps (vec_id, label,
    cell)."""
    from fineo_readerator_spark.llm_ops.similarity import semantic_dedup

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    corpus = emb.unionAll(
        emb.select((F.col("vec_id") + _SHIFT).alias("vec_id"), "label", "embedding")
    )
    kept = semantic_dedup(corpus, "vec_id", "embedding", n_centroids=16, threshold=0.9)
    return kept.select("vec_id", "label", F.col("cell").cast("long").alias("cell"))


from fineo_readerator_spark.llm_ops.similarity import COSINE_SQL as _SEM_COS  # noqa: E402

_SEM_DIST = (
    "round(list_sum(list_transform(generate_series(1, len({a})),"
    " i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), 9)"
)


def _d_semantic_dedup_oracle() -> str:
    return f"""
WITH corpus AS (
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_SHIFT}, label, embedding FROM embeddings
),
seeds AS (
  SELECT vec_id AS sid, embedding AS sv FROM corpus ORDER BY vec_id LIMIT 16
),
assign AS (
  SELECT vec_id, label, embedding, sid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY {_SEM_DIST.format(a='embedding', b='sv')}, sid) AS rn
  FROM (SELECT c.vec_id, c.label, c.embedding, s.sid, s.sv
        FROM corpus c CROSS JOIN seeds s)
),
cells AS (SELECT vec_id, label, embedding, sid AS cell FROM assign WHERE rn = 1),
dominated AS (
  SELECT DISTINCT a.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE {_SEM_COS.format(a='a.embedding', b='b.embedding')} >= 0.9
)
SELECT vec_id, label, CAST(cell AS BIGINT) AS cell FROM cells
WHERE vec_id NOT IN (SELECT vec_id FROM dominated)
"""


def d_semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-bucketed SemDeDup (llm_ops.similarity.semantic_dedup_lsh)
    over embeddings ∪ an id-shifted copy: the scale path past the
    plan-literal codebook boundary — 2^n_planes cells from n_planes×dim
    literals.  Each shifted duplicate shares its original's signature
    bucket (identical vector → identical sign bits) so it MUST be
    dominated away.  n_planes pinned at 4 for oracle determinism (the
    default auto-sizes from the corpus count)."""
    from fineo_readerator_spark.llm_ops.similarity import semantic_dedup_lsh

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    corpus = emb.unionAll(
        emb.select((F.col("vec_id") + _SHIFT).alias("vec_id"), "label", "embedding")
    )
    kept = semantic_dedup_lsh(
        corpus, "vec_id", "embedding", threshold=0.9, n_planes=4, dim=64
    )
    return kept.select("vec_id", "label", "cell")


def _d_semantic_dedup_lsh_oracle(dim: int = 64, n_planes: int = 4, seed: int = 42) -> str:
    planes = _hyperplanes(dim, n_planes, seed)
    sig = _plane_sig_sql("embedding", planes, dim)
    return f"""
WITH corpus AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = {dim}
  UNION ALL
  SELECT vec_id + {_SHIFT}, label, embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = {dim}
),
cells AS (SELECT vec_id, label, embedding, CAST({sig} AS BIGINT) AS cell FROM corpus),
dominated AS (
  SELECT DISTINCT a.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE {_SEM_COS.format(a='a.embedding', b='b.embedding')} >= 0.9
)
SELECT vec_id, label, cell FROM cells
WHERE vec_id NOT IN (SELECT vec_id FROM dominated)
"""


def d_semantic_dedup_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the MATERIALIZED cell layout: the assignment is read
    back as a partition column of the IVF cell layout (one codebook build
    per corpus version, the commit-fd006d5 pattern), so query time does ZERO
    argmin recompute — tests/test_llm_ops.py::test_semantic_layout_reuses_cells
    pins that no codebook distance expression appears in this plan.  At
    100 TB the difference is one corpus-wide projection per query vs none;
    the cell layout also co-locates each cell's rows, so the in-cell
    self-join's shuffle reads presorted partition directories."""
    from fineo_readerator_spark.llm_ops.similarity import semantic_dedup_assigned

    layout = spark.read.parquet(ensure_ivf_layout(spark, sf_dir)).select(
        "vec_id", "label", "embedding", F.col("cell").cast("long").alias("cell")
    )
    kept = semantic_dedup_assigned(
        layout, "vec_id", "embedding", cell_col="cell", threshold=0.35, n_cells=16
    )
    return kept.select("vec_id", "label", "cell")


def _d_semantic_dedup_layout_oracle() -> str:
    # same seeded codebook as the IVF layout (16 lowest-id vectors of the
    # vec_id != 0 corpus), dominance at the layout query's 0.35 threshold
    return f"""
WITH corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id != 0),
seeds AS (SELECT vec_id AS sid, embedding AS sv FROM corpus ORDER BY vec_id LIMIT 16),
assign AS (
  SELECT vec_id, label, embedding, sid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY {_SEM_DIST.format(a='embedding', b='sv')}, sid) AS rn
  FROM (SELECT c.vec_id, c.label, c.embedding, s.sid, s.sv
        FROM corpus c CROSS JOIN seeds s)
),
cells AS (SELECT vec_id, label, embedding, sid AS cell FROM assign WHERE rn = 1),
dominated AS (
  SELECT DISTINCT a.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE {_SEM_COS.format(a='a.embedding', b='b.embedding')} >= 0.35
)
SELECT vec_id, label, CAST(cell AS BIGINT) AS cell FROM cells
WHERE vec_id NOT IN (SELECT vec_id FROM dominated)
"""


D_EMBED_ORACLE = """
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(
           list_sum(list_transform(generate_series(1, len(a.embedding)),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           6) AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cos_sim >= 0.35
"""


def p_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row statistics report a dataset release ships with — corpus
    size, token volume, language mix, duplication rate, quality pass rate.

    Cost shape: the token/md5/quality signals are row-local projections,
    but the Gopher repetition signals come from ``with_quality_signals``,
    which aggregates the exploded terms per doc and joins them back — so
    the card costs two corpus scans plus a term-cardinality shuffle and a
    doc-cardinality join, all corpus-bounded (nothing quadratic, nothing
    driver-sized).  Ratios are exact integer counts divided once at the
    end (rounded 6), never floating aggregations."""
    from fineo_readerator_spark.llm_ops.textstats import with_quality_signals

    docs = with_text_stats(load(spark, sf_dir, "documents"), "text")
    docs = with_quality_signals(docs, "text")
    return docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.round(
            F.sum((F.col("lang") == "en").cast("long")) * F.lit(1.0) / F.count("*"), 6
        ).alias("pct_en"),
        F.round(
            F.sum(F.col("gopher_pass").cast("long")) * F.lit(1.0) / F.count("*"), 6
        ).alias("gopher_pass_rate"),
        F.round(
            (F.count("*") - F.countDistinct(F.md5("text"))) * F.lit(1.0) / F.count("*"),
            6,
        ).alias("dup_rate"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
    )


def _p_dataset_card_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import (
        quality_signals_oracle_sql,
        text_stats_oracle_exprs,
    )

    sig = quality_signals_oracle_sql("SELECT doc_id, lang, text FROM documents")
    return f"""
WITH s AS (
  SELECT lang, text, {text_stats_oracle_exprs('text')}, gopher_pass
  FROM ({sig})
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS pct_en,
       round(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS gopher_pass_rate,
       round((count(*) - count(DISTINCT md5(text))) * 1.0 / count(*), 6) AS dup_rate,
       round(avg(quality_score), 6) AS avg_quality
FROM s
"""


def p_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pipeline over the doubled corpus:
    quality filter → fingerprint-normalized exact dedup (min id per
    fingerprint) → per-(lang, source) corpus stats.  Every stage is one of
    the registered operators; the whole chain stays declarative so Catalyst
    collapses it into scan → project → two hash aggregations."""
    from fineo_readerator_spark.llm_ops.dedup import _spread

    docs = load(spark, sf_dir, "documents")
    shifted = docs.select((F.col("doc_id") + _SHIFT).alias("doc_id"), *[c for c in docs.columns if c != "doc_id"])
    corpus = _spread(docs.unionByName(shifted))  # spread the CPU-bound tokenize

    scored = with_text_stats(corpus, "text")
    good = scored.filter(F.col("quality_score") >= 0.5)
    fp = text_fingerprint(good, "text")
    # min-id-per-fingerprint via ONE window pass, not groupBy + self
    # semi-join: the join formulation re-evaluated the whole
    # scan→stats→fingerprint subtree once per join side (measured: twin
    # 32-task stages of ~8 s summed CPU each), while row_number() = 1 is
    # one pass and one exchange — WindowGroupLimit keeps the per-mapper
    # top-1, so the shuffle carries ~one row per fingerprint.  Same rows
    # out: doc_id is unique, so rank 1 by doc_id IS the min-id row.
    from pyspark.sql.window import Window

    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    clean = (
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return clean.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        # cast pinned on BOTH sides: DuckDB sum(int) is HUGEINT, Spark's is
        # BIGINT — the driver hashes the raw representation, so align on int64
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


P_CLEAN_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL SELECT doc_id + {_SHIFT}, text, lang, source FROM documents
),
scored AS (
  SELECT doc_id, text, lang, source, {text_stats_oracle_exprs('text')} FROM corpus
),
good AS (SELECT * FROM scored WHERE quality_score >= 0.5),
fp AS (SELECT *, {text_fingerprint_oracle_expr('text')} FROM good),
keep AS (SELECT fingerprint, min(doc_id) AS doc_id FROM fp GROUP BY fingerprint)
SELECT lang, source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM fp SEMI JOIN keep USING (fingerprint, doc_id)
GROUP BY lang, source
"""


def s_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (group-wise vector mean) — the class-
    centroid primitive behind clustering, retrieval calibration and
    SemDeDup-style codebook seeding.  posexplode → one hash aggregation on
    (label, pos): map-side partial avg makes the shuffle #labels × dim rows
    regardless of corpus size; the blobs themselves never move."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return ex.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val")
    )


S_CENTROIDS_ORACLE = """
WITH ex AS (
  SELECT label,
         unnest(list_transform(generate_series(1, len(embedding)),
                i -> {'pos': i - 1, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
  FROM embeddings
)
SELECT label, CAST(u.pos AS INT) AS pos, round(avg(u.v), 6) AS centroid_val
FROM ex GROUP BY label, pos
"""


def s_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift (llm_ops.similarity.embedding_drift): per
    label, cosine between the even-id-half and odd-id-half centroids —
    the embedding twin of PSI/categorical drift.  One posexplode pass
    into a (label, half, pos) partial-avg agg (labels × 2 × dim shuffle
    rows regardless of corpus size); everything downstream is
    metadata-sized."""
    from fineo_readerator_spark.llm_ops.similarity import embedding_drift

    return embedding_drift(load(spark, sf_dir, "embeddings"))


def _s_embed_drift_oracle() -> str:
    from fineo_readerator_spark.llm_ops.similarity import embedding_drift_oracle_sql

    return embedding_drift_oracle_sql("SELECT vec_id, embedding, label FROM embeddings")


def p_pipeline_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXPORT half of a training-data pipeline, composed in one plan:
    quality filter → fingerprint-normalized exact dedup → deterministic
    shard assignment → per-shard greedy sequence packing.  Each stage is a
    registered operator; the chain stays declarative, so Catalyst collapses
    filter+fingerprint into the scan projection and the shard/pack windows
    share one exchange on ``shard`` (the same partitioning the shard writer
    needs).  Output: (doc_id, shard, shard_pos, bin_id) — a reproducible
    write manifest for fixed-token-budget training sequences."""
    from pyspark.sql.window import Window

    from fineo_readerator_spark.llm_ops.dedup import _spread
    from fineo_readerator_spark.llm_ops.sampling import pack_sequences, shard_for_training

    docs = load(spark, sf_dir, "documents")
    scored = with_text_stats(_spread(docs), "text")
    good = scored.filter(F.col("quality_score") >= 0.5)
    fp = text_fingerprint(good, "text")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    clean = (
        fp.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )
    sharded = shard_for_training(clean.select("doc_id", "n_tokens"), "doc_id", n_shards=8)
    packed = pack_sequences(sharded, "doc_id", "n_tokens", budget=1024, part_cols=["shard"])
    return packed.select("doc_id", "shard", "shard_pos", "bin_id")


def _p_pipeline_export_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import shard_oracle_exprs

    shard, _ = shard_oracle_exprs("doc_id", 8)
    return f"""
WITH scored AS (SELECT doc_id, text, {text_stats_oracle_exprs('text')} FROM documents),
good AS (SELECT * FROM scored WHERE quality_score >= 0.5),
fp AS (SELECT *, {text_fingerprint_oracle_expr('text')} FROM good),
clean AS (
  SELECT doc_id, n_tokens FROM (
    SELECT doc_id, n_tokens,
           row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
    FROM fp
  ) WHERE rn = 1
),
sharded AS (SELECT doc_id, n_tokens, {shard} AS shard FROM clean),
pos AS (
  SELECT doc_id, shard,
         CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS shard_pos,
         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
  FROM sharded
)
SELECT doc_id, shard, shard_pos, CAST(prev // 1024 AS BIGINT) AS bin_id FROM pos
"""


def _docs_as_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-encoded as an opaque binary payload column — the
    deterministic stand-in for real media blobs (see llm_ops.multimodal)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))


def mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed media-metadata struct over a binary column; size/hash computed
    JVM-side with no Python in the plan."""
    media = attach_media_metadata(_docs_as_media(spark, sf_dir), "payload", "image", "png")
    return media.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.size_bytes").alias("size_bytes"),
        F.col("media_meta.content_hash").alias("content_hash"),
    )


MM_META_ORACLE = """
SELECT doc_id, 'image' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
       md5(text) AS content_hash
FROM documents
"""


def mm_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-free compressibility audit (llm_ops.multimodal.byte_entropy):
    bits/byte of each payload's byte histogram — already-compressed media
    ≈ 8, raw text 4–5, constant filler ≈ 0; routes recompression and
    flags truncated/corrupt blobs outside their format's band.  One
    codegen'd hex-chunk projection + a ≤256-rows-per-payload hash agg."""
    from fineo_readerator_spark.llm_ops.multimodal import byte_entropy

    return byte_entropy(_docs_as_media(spark, sf_dir), "doc_id", "payload").orderBy(
        "doc_id"
    )


def _mm_byte_entropy_oracle() -> str:
    from fineo_readerator_spark.llm_ops.multimodal import byte_entropy_oracle_sql

    return (
        byte_entropy_oracle_sql(
            "SELECT doc_id, text FROM documents", "doc_id", "encode(text)"
        ).rstrip()
        + "\nORDER BY doc_id"
    )


def mm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup by binary content hash — the first pass every
    multimodal pipeline runs before any decode (re-crawled bytes are the
    dominant duplicate class and hashing is decode-free): over the doubled
    payload corpus, keep the smallest id per content hash.  The hash comes
    from the SAME attach_media_metadata struct the meta query exposes
    (JVM-side md5 over the binary column, no Python in the plan); dedup is
    one WindowGroupLimit shuffle on the hash."""
    from pyspark.sql.window import Window

    base = _docs_as_media(spark, sf_dir)
    doubled = base.unionAll(
        base.select((F.col("doc_id") + _SHIFT).alias("doc_id"), "payload")
    )
    media = attach_media_metadata(doubled, "payload", "image", "png")
    w = Window.partitionBy("media_meta.content_hash").orderBy("doc_id")
    return (
        media.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "doc_id",
            F.col("media_meta.content_hash").alias("content_hash"),
            F.col("media_meta.size_bytes").alias("size_bytes"),
        )
        .orderBy("doc_id")
    )


MM_DEDUP_ORACLE = f"""
WITH m AS (
  SELECT doc_id, md5(text) AS content_hash,
         CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes
  FROM documents
  UNION ALL
  SELECT doc_id + {_SHIFT}, md5(text), CAST(octet_length(encode(text)) AS BIGINT)
  FROM documents
)
SELECT doc_id, content_hash, size_bytes FROM (
  SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
  FROM m
) WHERE rn = 1 ORDER BY doc_id
"""


def mm_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-free media NEAR-dup (llm_ops.multimodal.media_near_dup): the
    step between mm_dedup's exact content hash and decoder-backed
    perceptual hashing — SimHash over 4-byte-stride payload chunks, then
    the oracle-checked simhash_dedup cascade verbatim (exact cascade,
    pigeonhole buckets, hamming ≤ 3, min-id components).  Run over the
    doubled payload corpus: the exact copies fall to the cascade and
    byte-level near-dups collapse from the BYTES, no decode anywhere."""
    from fineo_readerator_spark.llm_ops.multimodal import media_near_dup

    base = _docs_as_media(spark, sf_dir)
    doubled = base.unionAll(
        base.select((F.col("doc_id") + _SHIFT).alias("doc_id"), "payload")
    )
    kept = media_near_dup(doubled, "doc_id", "payload", chunk_bytes=4, max_hamming=3)
    return kept.select(
        "doc_id", F.length("payload").cast("long").alias("size_bytes")
    ).orderBy("doc_id")


def _mm_near_dup_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import simhash_dedup_oracle

    chunked = (
        "SELECT doc_id,"
        " array_to_string(regexp_extract_all(hex(encode(text)), '.{1,8}'), ' ')"
        " AS text,"
        " CAST(octet_length(encode(text)) AS BIGINT) AS n_chars"
        " FROM documents"
    )
    corpus = (
        f"{chunked} UNION ALL "
        + chunked.replace("SELECT doc_id,", f"SELECT doc_id + {_SHIFT},")
    )
    inner = simhash_dedup_oracle(corpus, max_hamming=3)
    return (
        f"SELECT doc_id, n_chars AS size_bytes FROM ({inner}) ORDER BY doc_id"
    )


def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode+featurize over the binary payloads.  The fake
    decoder derives dims from sha256 bytes, which DuckDB can replay
    (sha256 + positional hex parse), so the Arrow-batch plumbing is
    oracle-checked end to end."""
    return decode_and_featurize(_docs_as_media(spark, sf_dir), "doc_id", "payload").select(
        "id", "width", "height", "duration_ms"
    )


def _mm_decode_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import _hexparse

    def byte_at(k: int) -> str:  # byte k of the sha256 digest (hex chars 2k+1..2k+2)
        return _hexparse("s", 2 * k + 1, 2)

    return f"""
WITH h AS (SELECT doc_id, sha256(text) AS s FROM documents)
SELECT doc_id AS id,
       CAST(16 + ({byte_at(0)}) % 64 AS INT) AS width,
       CAST(16 + ({byte_at(1)}) % 64 AS INT) AS height,
       CAST(({byte_at(2)}) * 256 + ({byte_at(3)}) AS BIGINT) AS duration_ms
FROM h
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling contract: one row per (doc, frame_idx), stubbed
    extraction (strided byte slice).  The reported frame size is pure
    arithmetic on the payload length, so the contract is oracle-checked."""
    frames = sample_frames(_docs_as_media(spark, sf_dir), "doc_id", "payload", n_frames=4)
    return frames.select("id", "frame_idx", F.length("frame").alias("frame_bytes"))


# frame = payload[i::4][:64]  =>  len = min(64, ceil((len(payload) - i) / 4))
MM_FRAMES_ORACLE = """
SELECT doc_id AS id, CAST(i AS INT) AS frame_idx,
       CAST(CASE WHEN octet_length(encode(text)) > i
                 THEN least(64, (octet_length(encode(text)) - i - 1) // 4 + 1)
                 ELSE 0 END AS INT) AS frame_bytes
FROM documents, generate_series(0, 3) t(i)
"""


def s_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 (the ANN scale path): probe buckets
    within 1 sign-bit flip of the query signature, exact cosine inside."""
    emb = load(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return lsh_bucketed_topk(
        emb.filter(F.col("vec_id") != 0), qv, k=10, n_planes=8, max_probe_dist=1, seed=42
    )


def s_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-10: deterministic data-sampled codebook
    (16 lowest-id vectors), 4 of 16 cells probed, exact cosine inside.  The
    codebook is SQL-expressible so the whole operator is oracle-checked; the
    k-means-trained variant (``ivf_topk``) is covered by the
    n_probe=n_centroids ≡ brute-force equivalence test in
    tests/test_llm_ops.py."""
    emb = load(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return ivf_seeded_topk(
        emb.filter(F.col("vec_id") != 0), qv, k=10, n_centroids=16, n_probe=4
    )


def s_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10: 64 dims → 4 subspaces, each with a
    seeded 16-entry codebook; the query folds to 4 literal lookup tables so
    scoring per row is 4 map lookups, never full-dimension math
    (llm_ops.similarity.pq_seeded_topk).  The oracle replays the identical
    encode + ADC arithmetic."""
    from fineo_readerator_spark.llm_ops.similarity import pq_seeded_topk

    emb = load(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return pq_seeded_topk(emb.filter(F.col("vec_id") != 0), qv, k=10, m=4, n_codes=16)


def _s_ann_pq_oracle(m: int = 4, sub: int = 16, n_codes: int = 16, k: int = 10) -> str:
    dist_corpus = (
        f"round(list_sum(list_transform(generate_series(1, {sub}), i ->"
        f" (CAST(c.embedding[(j - 1) * {sub} + CAST(i AS INT)] AS DOUBLE)"
        f"  - CAST(s.sv[(j - 1) * {sub} + CAST(i AS INT)] AS DOUBLE))"
        f" * (CAST(c.embedding[(j - 1) * {sub} + CAST(i AS INT)] AS DOUBLE)"
        f"  - CAST(s.sv[(j - 1) * {sub} + CAST(i AS INT)] AS DOUBLE)))), 9)"
    )
    dist_query = (
        f"round(list_sum(list_transform(generate_series(1, {sub}), i ->"
        f" (CAST(q.qv[(j - 1) * {sub} + CAST(i AS INT)] AS DOUBLE)"
        f"  - CAST(s.sv[(j - 1) * {sub} + CAST(i AS INT)] AS DOUBLE))"
        f" * (CAST(q.qv[(j - 1) * {sub} + CAST(i AS INT)] AS DOUBLE)"
        f"  - CAST(s.sv[(j - 1) * {sub} + CAST(i AS INT)] AS DOUBLE)))), 9)"
    )
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id != 0 AND embedding IS NOT NULL AND len(embedding) = {m * sub}
),
seeds AS (SELECT vec_id AS sid, embedding AS sv FROM corpus ORDER BY vec_id LIMIT {n_codes}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
assign AS (
  SELECT vec_id, j, qd,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY d, sid) AS rn
  FROM (
    SELECT c.vec_id, gs.j, s.sid,
           {dist_corpus} AS d,
           {dist_query} AS qd
    FROM corpus c
    CROSS JOIN seeds s
    CROSS JOIN (SELECT unnest(generate_series(1, {m})) AS j) gs
    CROSS JOIN q
  )
)
SELECT vec_id, round(sum(qd), 9) AS est_dist
FROM assign WHERE rn = 1
GROUP BY vec_id
ORDER BY est_dist ASC, vec_id ASC
LIMIT {k}
"""


def _ivf_layout_path(sf_dir: str):
    from pathlib import Path

    repo = Path(__file__).resolve().parents[2]
    return repo / ".kv_cache" / Path(sf_dir.rstrip("/")).name / "embeddings_ivf"


def _read_centroids(spark: SparkSession, path: str) -> list[tuple[int, list[float]]]:
    """Parse a layout's persisted codebook meta (``_centroids.json``) — the
    ONE reader every probe/append leg goes through, so the meta format has a
    single point of change (model state travels with the store; nothing
    recomputes it)."""
    import json

    from fineo_readerator_spark.llm_ops.dedup import _fs_read_text

    cents = json.loads(_fs_read_text(spark, f"{path}/_centroids.json"))
    return [(int(cid), [float(x) for x in v]) for cid, v in cents]


def _probe_layout_topk(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    cents: list[tuple[int, list[float]]],
    n_probe: int = 4,
    k: int = 10,
) -> DataFrame:
    """Shared probe leg for every centroid-meta layout: query vector →
    ``n_probe`` nearest persisted centroids → partition-pruned directory
    read → exact cosine top-``k``."""
    from fineo_readerator_spark.llm_ops.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    probe = _nearest_cells(qv, cents, n_probe)
    layout = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    return cosine_topk(layout, qv, k=k)


def ensure_ivf_layout(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVF index AT REST: embeddings written once,
    partitioned by their seeded-codebook cell (``partitionBy("cell")`` →
    one directory per cell).  This is the piece that makes IVF an index
    rather than a per-query filter: a probe reads n_probe/n_centroids of
    the DIRECTORIES (Catalyst partition pruning), so at 100 TB the
    non-probed cells are never listed, opened or scanned."""
    from fineo_readerator_spark.llm_ops.similarity import (
        seeded_cell_expr,
        seeded_codebook,
    )
    from fineo_readerator_spark.plans.registry import (
        snapshot_is_fresh,
        source_fingerprint,
        stamp_snapshot,
    )

    path = _ivf_layout_path(sf_dir)
    fp = source_fingerprint(sf_dir, "embeddings")
    if not snapshot_is_fresh(path, fp):
        emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
        seeds = seeded_codebook(emb, "vec_id", "embedding", 16)
        assigned = emb.withColumn("cell", seeded_cell_expr("embedding", seeds))
        assigned.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
            str(path)
        )
        stamp_snapshot(path, fp)
    return str(path)


def ensure_ivf_layout_refined(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list[tuple[int, list[float]]]]:
    """The kmeans-refined IVF layout: like :func:`ensure_ivf_layout` but the
    cells come from two Lloyd iterations (llm_ops.similarity.kmeans_refine)
    instead of the raw seed codebook — refined centroids balance cell sizes
    and tighten boundaries, which is recall AND pruning-selectivity at the
    same n_probe.  The refined centroids are MODEL STATE the probe side
    must share exactly, so they persist in ``_centroids.json`` beside the
    data (written before the fingerprint stamp — the stamp stays the
    completion marker) and probes read them from the layout, never
    recompute (the derived-store rule: parameters travel with the store)."""
    import json

    from fineo_readerator_spark.llm_ops.dedup import _fs_write_text
    from fineo_readerator_spark.llm_ops.similarity import (
        kmeans_refine,
        seeded_cell_expr,
    )
    from fineo_readerator_spark.plans.registry import (
        snapshot_is_fresh,
        source_fingerprint,
        stamp_snapshot,
    )

    path = _ivf_layout_path(sf_dir).with_name("embeddings_ivf_kmeans")
    fp = source_fingerprint(sf_dir, "embeddings")
    if not snapshot_is_fresh(path, fp):
        emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
        cents, _ = kmeans_refine(emb, n_centroids=16, n_iters=2)
        assigned = emb.withColumn("cell", seeded_cell_expr("embedding", cents))
        assigned.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
            str(path)
        )
        _fs_write_text(spark, f"{path}/_centroids.json", json.dumps(cents))
        stamp_snapshot(path, fp)
    return str(path), _read_centroids(spark, str(path))


def s_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 over the KMEANS-REFINED persisted cell layout: probe = 4
    nearest refined centroids (read from the layout's meta, never
    recomputed), probed cells become a partition-pruned directory read,
    exact cosine within."""
    path, cents = ensure_ivf_layout_refined(spark, sf_dir)
    return _probe_layout_topk(spark, sf_dir, path, cents)


def _s_ann_ivf_kmeans_oracle() -> str:
    from fineo_readerator_spark.llm_ops.similarity import _km_dist, kmeans_cte_parts

    parts, cfin = kmeans_cte_parts(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id != 0",
        n_centroids=16,
        n_iters=2,
    )
    parts.append("q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)")
    parts.append(
        f"""probe AS (
  SELECT cid FROM {cfin}, q
  ORDER BY {_km_dist(64, 'qv', 'cent')}, cid LIMIT 4
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
sims AS (
  SELECT a.id AS vec_id, {_SEM_COS.format(a='a.v', b='q.qv')} AS cos_sim
  FROM af a, q WHERE a.cell IN (SELECT cid FROM probe)
)
SELECT vec_id, cos_sim FROM sims ORDER BY cos_sim DESC, vec_id LIMIT 10"""
    )


def ensure_ivf_layout_incremental(spark: SparkSession, sf_dir: str) -> str:
    """Incremental IVF index maintenance — the daily-ingest shape for a
    100 TB vector store: the layout is built ONCE from the base corpus
    (``vec_id % 5 != 4``) with a base-derived seeded codebook persisted in
    ``_centroids.json``; the delta (``vec_id % 5 == 4``) is then APPENDED
    by assigning it against the PERSISTED codebook — the append scans only
    delta rows and writes only new files into the cell directories; base
    partition files are never read or rewritten (asserted in
    tests/test_llm_ops.py).  Centroids are model state travelling with the
    store (the derived-store rule), so append and probe read them from the
    meta, never recompute — recomputing on base+delta would SHIFT the
    codebook and silently orphan every already-written cell.  The
    fingerprint stamp is written LAST as the completion marker."""
    import json

    from fineo_readerator_spark.llm_ops.dedup import _fs_write_text
    from fineo_readerator_spark.llm_ops.similarity import (
        seeded_cell_expr,
        seeded_codebook,
    )
    from fineo_readerator_spark.plans.registry import (
        snapshot_is_fresh,
        source_fingerprint,
        stamp_snapshot,
    )

    path = _ivf_layout_path(sf_dir).with_name("embeddings_ivf_incr")
    fp = source_fingerprint(sf_dir, "embeddings")
    if not snapshot_is_fresh(path, fp):
        emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
        base = emb.filter(F.col("vec_id") % 5 != 4)
        seeds = seeded_codebook(base, "vec_id", "embedding", 16)
        base.withColumn("cell", seeded_cell_expr("embedding", seeds)).repartition(
            "cell"
        ).write.mode("overwrite").partitionBy("cell").parquet(str(path))
        _fs_write_text(spark, f"{path}/_centroids.json", json.dumps(seeds))
        # the append leg: codebook from the META (the probe-path contract),
        # delta-only scan, file-level append into the cell directories
        cents = _read_centroids(spark, str(path))
        delta = emb.filter(F.col("vec_id") % 5 == 4)
        delta.withColumn("cell", seeded_cell_expr("embedding", cents)).repartition(
            "cell"
        ).write.mode("append").partitionBy("cell").parquet(str(path))
        stamp_snapshot(path, fp)
    return str(path)


def s_ann_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 over the INCREMENTALLY-MAINTAINED layout (base build +
    codebook-stable delta append, :func:`ensure_ivf_layout_incremental`):
    probe = 4 nearest persisted centroids, partition-pruned directory read,
    exact cosine within — identical answers to a from-scratch build with
    the same codebook, which is exactly what the oracle replays."""
    path = ensure_ivf_layout_incremental(spark, sf_dir)
    return _probe_layout_topk(spark, sf_dir, path, _read_centroids(spark, path))


def _nearest_cells(
    qv: list[float], cents: list[tuple[int, list[float]]], n_probe: int
) -> list[int]:
    """The ``n_probe`` nearest codebook cells to a query vector — THE probe
    derivation for every layout-backed ANN family (seeded and
    kmeans-refined): squared euclidean rounded at 1e-9 with the cell id as
    tie-break, the identical contract the oracles unroll.  HALF_UP via
    ``_round_half_up`` — the oracle recomputes these distances with SQL
    round, and Python round() is banker's (diverges at dyadic halves)."""
    from fineo_readerator_spark.llm_ops.similarity import _round_half_up

    qd = sorted(
        (_round_half_up(sum((float(q) - s) ** 2 for q, s in zip(qv, sv))), cid)
        for cid, sv in cents
    )
    return [cid for _, cid in qd[:n_probe]]


def _ivf_probe(spark: SparkSession, sf_dir: str, n_probe: int = 4):
    """Shared probe derivation for the seeded-codebook layout queries: the
    query vector, its ``n_probe`` nearest cells (:func:`_nearest_cells`),
    and the cell-pruned layout frame."""
    from fineo_readerator_spark.llm_ops.similarity import seeded_codebook

    emb = load(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    rest = emb.filter(F.col("vec_id") != 0)
    seeds = seeded_codebook(rest, "vec_id", "embedding", 16)
    probe = _nearest_cells(qv, seeds, n_probe)
    layout = spark.read.parquet(ensure_ivf_layout(spark, sf_dir))
    return qv, layout.filter(F.col("cell").isin(probe))


def s_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: a metadata predicate (label = 3) composed
    with IVF cell pruning over the materialized layout — the probe-cell
    partition filter prunes directories at the file listing AND the label
    equality pushes into the parquet scan, so non-probed cells are never
    opened and non-matching rows die at the row-group.  The filter applies
    BEFORE top-k (post-filtering an unfiltered top-k would under-fill k)."""
    from fineo_readerator_spark.llm_ops.similarity import cosine_topk

    qv, probed = _ivf_probe(spark, sf_dir)
    return cosine_topk(probed.filter(F.col("label") == 3), qv, k=10)


def s_ann_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 over the cell-partitioned layout: probe cells become a
    partition filter (directory pruning — asserted in
    tests/test_llm_ops.py::test_ivf_layout_prunes_partitions), exact cosine
    inside the probed cells only.  Same answer as ``s_ann_ivf``; the
    difference is WHERE the selectivity is applied — at the file listing,
    not per row."""
    from fineo_readerator_spark.llm_ops.similarity import cosine_topk

    qv, probed = _ivf_probe(spark, sf_dir)
    return cosine_topk(probed, qv, k=10)


_IVF_DIST = (
    "round(list_sum(list_transform(generate_series(1, len({a})),"
    " i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), 9)"
)

S_ANN_IVF_ORACLE = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
seeds AS (
  SELECT vec_id AS sid, embedding AS sv FROM embeddings WHERE vec_id != 0
  ORDER BY vec_id LIMIT 16
),
assign AS (
  SELECT vec_id, embedding, sid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY {_IVF_DIST.format(a='embedding', b='sv')}, sid) AS rn
  FROM (SELECT e.vec_id, e.embedding, s.sid, s.sv
        FROM embeddings e CROSS JOIN seeds s WHERE e.vec_id != 0)
),
probe AS (
  SELECT sid FROM seeds, q
  ORDER BY {_IVF_DIST.format(a='qv', b='sv')}, sid LIMIT 4
),
cells AS (
  SELECT vec_id, embedding FROM assign
  WHERE rn = 1 AND sid IN (SELECT sid FROM probe)
),
sims AS (
  SELECT c.vec_id,
         round(
           list_sum(list_transform(generate_series(1, len(c.embedding)),
                    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           6) AS cos_sim
  FROM cells c, q
)
SELECT vec_id, cos_sim FROM sims ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


# the filtered variant's oracle is the IVF oracle with `label` carried
# through assignment and applied inside the probed cells, before top-k
S_ANN_FILTERED_ORACLE = (
    S_ANN_IVF_ORACLE.replace(
        "SELECT vec_id, embedding, sid,", "SELECT vec_id, embedding, label, sid,"
    )
    .replace(
        "SELECT e.vec_id, e.embedding, s.sid",
        "SELECT e.vec_id, e.embedding, e.label, s.sid",
    )
    .replace("WHERE rn = 1 AND sid IN", "WHERE rn = 1 AND label = 3 AND sid IN")
)

# the incremental-append oracle: identical to the seeded-IVF oracle except
# the codebook comes from the BASE corpus only (vec_id % 5 != 4) — the
# from-scratch replay of what build-then-append materializes
S_ANN_IVF_APPEND_ORACLE = S_ANN_IVF_ORACLE.replace(
    "SELECT vec_id AS sid, embedding AS sv FROM embeddings WHERE vec_id != 0",
    "SELECT vec_id AS sid, embedding AS sv FROM embeddings"
    " WHERE vec_id != 0 AND vec_id % 5 != 4",
)




def _ann_lsh_oracle(dim: int = 64, n_planes: int = 8, seed: int = 42, max_probe_dist: int = 1) -> str:
    """DuckDB oracle for s_ann_lsh with the hyperplanes inlined as literals —
    identical plane constants and arithmetic order as the Spark path."""
    planes = _hyperplanes(dim, n_planes, seed)

    def sig(vec_expr: str) -> str:
        return _plane_sig_sql(vec_expr, planes, dim)

    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qs AS (SELECT {sig('qv')} AS qsig FROM q),
probed AS (
  SELECT e.vec_id, e.embedding FROM embeddings e, qs
  WHERE e.vec_id != 0 AND bit_count(xor({sig('e.embedding')}, qs.qsig)) <= {max_probe_dist}
),
sims AS (
  SELECT p.vec_id,
         round(
           list_sum(list_transform(generate_series(1, {dim}),
                    i -> CAST(p.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(p.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           6) AS cos_sim
  FROM probed p, q
)
SELECT vec_id, cos_sim FROM sims ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


_CORPUS_SQL = (
    "SELECT doc_id, text, n_chars FROM documents"
    f" UNION ALL SELECT doc_id + {_SHIFT}, text, n_chars FROM documents"
)


def _minhash_pairs_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import minhash_pairs_oracle

    return minhash_pairs_oracle(_CORPUS_SQL, num_hashes=64, bands=16, threshold=0.7)


def d_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance purity of every near-dup cluster (llm_ops.dedup.
    cluster_source_purity): run over documents plus a 'mirror:'-sourced
    copy, so every exact pair spans two sources — distinguishing in-site
    templating (pure clusters) from mirror/syndication duplication
    (mixed), the crawl-forensics read on the cluster map.  Cost = the
    cluster map + cluster-cardinality aggregates."""
    from fineo_readerator_spark.llm_ops.dedup import cluster_source_purity

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars", "source"
    )
    mirrored = docs.unionAll(
        docs.select(
            (F.col("doc_id") + _SHIFT).alias("doc_id"),
            "text",
            "n_chars",
            F.concat(F.lit("mirror:"), F.col("source")).alias("source"),
        )
    )
    return cluster_source_purity(mirrored, "doc_id", "text", "source").orderBy(
        "cluster_id"
    )


_PURITY_CORPUS_SQL = (
    "SELECT doc_id, text, n_chars, source FROM documents"
    f" UNION ALL SELECT doc_id + {_SHIFT}, text, n_chars,"
    " 'mirror:' || source FROM documents"
)


def _d_cluster_purity_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import cluster_purity_oracle

    return (
        cluster_purity_oracle(_PURITY_CORPUS_SQL).rstrip()
        + "\nORDER BY cluster_id"
    )


def d_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dedup-savings report (llm_ops.dedup.dup_inflation) over
    the doubled corpus, char-weighted: how much volume sits in near-dup
    clusters and how much the keep-one policy sheds — the read-before-
    destructive-dedup number.  Cost = the cluster map + cluster-sized
    aggregates."""
    from fineo_readerator_spark.llm_ops.dedup import dup_inflation

    return dup_inflation(
        _docs_with_dups(spark, sf_dir), "doc_id", "text", weight_col="n_chars"
    )


def _d_dup_inflation_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import dup_inflation_oracle

    return dup_inflation_oracle(_CORPUS_SQL, weight_expr="n_chars")


def d_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of the MinHash candidate pairs
    (llm_ops.dedup.edit_distance_verify): Levenshtein over ASCII-folded
    256-char prefixes, keeping pairs within 20% edit distance of their
    length — the rung between shingle-set Jaccard (order-blind) and
    embedding cosine (surface-blind).  Work is candidate-set-sized: two
    id-keyed joins of the tiny pair frame + one bounded DP per pair."""
    from fineo_readerator_spark.llm_ops.dedup import (
        edit_distance_verify,
        minhash_lsh_pairs,
    )

    docs = _docs_with_dups(spark, sf_dir)
    cand = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    )
    return edit_distance_verify(docs, cand, "doc_id", "text").orderBy(
        "id_a", "id_b"
    )


def _d_edit_verify_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import edit_verify_oracle

    return (
        edit_verify_oracle(
            _CORPUS_SQL, num_hashes=64, bands=16, threshold=0.5
        ).rstrip()
        + "\nORDER BY id_a, id_b"
    )


def _minhash_dedup_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import minhash_dedup_oracle

    return minhash_dedup_oracle(_CORPUS_SQL, num_hashes=64, bands=16, threshold=0.7)


def _simhash_dedup_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import simhash_dedup_oracle

    return simhash_dedup_oracle(_CORPUS_SQL, max_hamming=3)


def d_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs over documents + a duplicated copy (the
    shifted copies are exact dups, so every (id, id+SHIFT) pair must surface).
    The md5 leaf hash lets the DuckDB oracle replay the signatures,
    banding and verification bit-for-bit."""
    return minhash_lsh_pairs(
        _docs_with_dups(spark, sf_dir), "doc_id", "text",
        num_hashes=64, bands=16, threshold=0.7,
    )


def d_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pipeline quality audit (llm_ops.dedup.minhash_audit): every
    surviving candidate pair re-scored with EXACT shingle Jaccard
    (precision), plus an id%5-sampled all-pairs recall leg — the
    measure-first report that validates (num_hashes, bands, threshold)
    before a keep/drop policy trusts the candidates.  Integer
    cross-multiplied thresholds, half-up ppm ratios."""
    from fineo_readerator_spark.llm_ops.dedup import minhash_audit

    return minhash_audit(
        _docs_with_dups(spark, sf_dir), "doc_id", "text",
        num_hashes=64, bands=16, threshold=0.7, sample_mod=5,
    )


def _d_minhash_audit_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import minhash_audit_oracle

    return minhash_audit_oracle(
        _CORPUS_SQL, num_hashes=64, bands=16, threshold=0.7, sample_mod=5
    )


def d_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fuzzy-dedup pass (exact cascade + LSH + label propagation) over
    the doubled corpus; the oracle replays the whole pipeline including
    the clustering (recursive-CTE transitive closure)."""
    out = minhash_dedup(
        _docs_with_dups(spark, sf_dir), "doc_id", "text",
        num_hashes=64, bands=16, threshold=0.7,
    )
    return out.select("doc_id", "n_chars")


def p_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of the event_type distribution between the pre- and
    post-cutover halves of the events corpus — the ingest-generation drift
    monitor (llm_ops.sampling.categorical_drift).  Category-sized outer
    join; nothing corpus-sized shuffles."""
    from fineo_readerator_spark.functions import epoch_millis
    from fineo_readerator_spark.llm_ops.sampling import categorical_drift
    from fineo_readerator_spark.plans.metric_queries import CUTOVER_MS

    ev = load(spark, sf_dir, "events")
    ms = epoch_millis(ev, "ts")
    return categorical_drift(
        ev.filter(ms < CUTOVER_MS), ev.filter(ms >= CUTOVER_MS), "event_type"
    )


def _p_corpus_drift_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import categorical_drift_oracle_sql
    from fineo_readerator_spark.plans.metric_queries import CUTOVER_MS

    return categorical_drift_oracle_sql(
        f"SELECT event_type FROM events WHERE epoch_ms(ts) < {CUTOVER_MS}",
        f"SELECT event_type FROM events WHERE epoch_ms(ts) >= {CUTOVER_MS}",
        "event_type",
    )


_BM25_TERMS = ["spark", "join", "window"]


def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 lexical retrieval over the corpus — the inverted-index
    shape as relational ops: postings of the QUERY TERMS only feed the
    per-doc fold, corpus stats and per-term document frequencies broadcast,
    top-k is a TakeOrdered (llm_ops.retrieval.bm25_topk)."""
    from fineo_readerator_spark.llm_ops.retrieval import bm25_topk

    return bm25_topk(load(spark, sf_dir, "documents"), _BM25_TERMS, "doc_id", "text")


def _bm25_oracle() -> str:
    from fineo_readerator_spark.llm_ops.retrieval import bm25_oracle_sql

    return bm25_oracle_sql("documents", _BM25_TERMS, "doc_id", "text")


def t_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 and embedding-cosine top-50 fused by
    Reciprocal Rank Fusion, final top-10 (llm_ops.retrieval.hybrid_rrf_topk).
    The query embedding is vec_id 0; both channels exclude id 0 so neither
    trivially retrieves the query itself.  Fusion handles 100 rank rows —
    metadata-sized regardless of corpus scale."""
    from fineo_readerator_spark.llm_ops.retrieval import hybrid_rrf_topk

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") != 0)
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qv = [
        float(v)
        for v in load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    ]
    return hybrid_rrf_topk(docs, emb, _BM25_TERMS, qv, k=10)


def _t_hybrid_rrf_oracle() -> str:
    from fineo_readerator_spark.llm_ops.retrieval import hybrid_rrf_oracle_sql

    return hybrid_rrf_oracle_sql(
        "(SELECT * FROM documents WHERE doc_id != 0)",
        "(SELECT * FROM embeddings WHERE vec_id != 0)",
        _BM25_TERMS,
        "SELECT embedding FROM embeddings WHERE vec_id = 0",
        k=10,
    )


def s_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: PQ/ADC shortlist of 50 over compressed codes, exact
    cosine rerank of the shortlist to top-10
    (llm_ops.similarity.pq_rerank_topk) — the recall-recovery stage every
    production PQ deployment pairs with the code scan."""
    from fineo_readerator_spark.llm_ops.similarity import pq_rerank_topk

    emb = load(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return pq_rerank_topk(emb.filter(F.col("vec_id") != 0), qv, k=10, shortlist=50)


def _s_ann_pq_rerank_oracle(k: int = 10, shortlist: int = 50) -> str:
    cos = _SEM_COS.format(a="e.embedding", b="q.qv")
    return f"""
WITH __q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, cos_sim FROM (
  SELECT e.vec_id, {cos} AS cos_sim
  FROM embeddings e
  JOIN ({_s_ann_pq_oracle(k=shortlist)}) s ON e.vec_id = s.vec_id
  CROSS JOIN __q q
) ORDER BY cos_sim DESC, vec_id LIMIT {k}
"""


def d_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine near-dup pairs >= 0.6 within (lang, source) blocking
    groups (llm_ops.retrieval.tfidf_cosine_pairs) — weighted lexical
    similarity with corpus-global IDF, group-bounded pair generation, and
    integer-exact arithmetic until the final double division."""
    from fineo_readerator_spark.llm_ops.retrieval import tfidf_cosine_pairs

    docs = load(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs, "doc_id", "text", ["lang", "source"], threshold=0.6)


def _d_tfidf_pairs_oracle() -> str:
    from fineo_readerator_spark.llm_ops.retrieval import tfidf_pairs_oracle_sql

    return tfidf_pairs_oracle_sql(
        "SELECT doc_id, text, lang, source FROM documents",
        "doc_id",
        "text",
        ["lang", "source"],
        threshold=0.6,
    )


def s_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-bounded approximate k-NN graph: every vector's top-3 cosine
    neighbors within its seeded-codebook cell
    (llm_ops.similarity.knn_graph).  WindowGroupLimit keeps a 3-row heap per
    node before the exchange, so the shuffle is O(N·k), never the in-cell
    pair set."""
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    return knn_graph(load(spark, sf_dir, "embeddings"), k=3, n_centroids=16)


def s_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd's k-means (llm_ops.similarity.kmeans_refine): two
    assign/update rounds from the deterministic lowest-id seeds, then the
    final per-vector assignment — the iterative-distributed-algorithm shape
    (model-sized centroid state round-trips the driver between iterations,
    the corpus only ever streams through codegen'd argmin projections and
    one map-side-combined aggregate per round)."""
    from fineo_readerator_spark.llm_ops.similarity import kmeans_refine

    _, assigned = kmeans_refine(
        load(spark, sf_dir, "embeddings"), n_centroids=8, n_iters=2
    )
    return assigned.orderBy("vec_id")


def _s_kmeans_oracle() -> str:
    from fineo_readerator_spark.llm_ops.similarity import kmeans_oracle_sql

    return kmeans_oracle_sql(
        "SELECT vec_id, embedding FROM embeddings", n_centroids=8, n_iters=2
    )


def s_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering quality report over the refined k-means run: per cluster
    the size, mean within-cluster squared distance (cohesion, decimal-exact
    sum) and the distance to the nearest OTHER centroid (separation,
    computed driver-side from the model — C² pairs of model state, not
    data).  The report that says whether C is sized right before committing
    to a cell layout."""
    from fineo_readerator_spark.llm_ops.similarity import kmeans_refine

    cents, assigned = kmeans_refine(
        load(spark, sf_dir, "embeddings"), n_centroids=8, n_iters=2
    )
    from fineo_readerator_spark.llm_ops.similarity import _round_half_up

    # HALF_UP, not round(): the oracle's sep CTE recomputes these with SQL
    # round, which disagrees with banker's rounding at dyadic decimal halves
    sep: dict[int, float] = {}
    for cid, v in cents:
        sep[cid] = min(
            _round_half_up(sum((a - b) ** 2 for a, b in zip(v, w)))
            for cid2, w in cents
            if cid2 != cid
        )
    sep_map = F.create_map(
        *[x for cid, d in sorted(sep.items()) for x in (F.lit(cid), F.lit(d))]
    )
    g = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("sq_dist").cast("decimal(25,9)")).alias("__s"),
    )
    return g.select(
        "cluster_id",
        "n_vecs",
        F.round(F.col("__s").cast("double") / F.col("n_vecs"), 6).alias("avg_sq_dist"),
        sep_map[F.col("cluster_id")].alias("min_inter_dist"),
    ).orderBy("cluster_id")


def _s_cluster_quality_oracle() -> str:
    from fineo_readerator_spark.llm_ops.similarity import _km_dist, kmeans_cte_parts

    parts, cfin = kmeans_cte_parts(
        "SELECT vec_id, embedding FROM embeddings", n_centroids=8, n_iters=2
    )
    parts.append(
        f"""sep AS (
  SELECT a.cid, min({_km_dist(64, 'a.cent', 'b.cent')}) AS min_inter
  FROM {cfin} a JOIN {cfin} b ON a.cid != b.cid GROUP BY a.cid
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT a.cell AS cluster_id, count(*) AS n_vecs,
       round(CAST(sum(CAST(a.sq_dist AS DECIMAL(25,9))) AS DOUBLE) / count(*), 6)
         AS avg_sq_dist,
       s.min_inter AS min_inter_dist
FROM af a JOIN sep s ON a.cell = s.cid
GROUP BY a.cell, s.min_inter
ORDER BY cluster_id"""
    )


def _knn_graph_ctes(
    k: int = 3, n_centroids: int = 16, n_probe: int = 1, neg_labels: bool = False
) -> str:
    """The WITH-body (no ``WITH`` keyword, no final SELECT) for the
    knn-graph replay, ending in a ``graph(vec_id, nbr_id, cos_sim, rank)``
    CTE with ``rank <= k`` — shared by the graph queries and every
    composition on top of the graph (label propagation)."""
    lab = ", label" if neg_labels else ""
    lab_a = ", c.label" if neg_labels else ""
    corpus_filter = " WHERE label IS NOT NULL" if neg_labels else ""
    pair_filter = " AND a.label != b.label" if neg_labels else ""
    return f"""corpus AS (SELECT vec_id, embedding{lab} FROM embeddings{corpus_filter}),
seeds AS (SELECT vec_id AS sid, embedding AS sv FROM corpus ORDER BY vec_id LIMIT {n_centroids}),
assign AS (
  SELECT vec_id, embedding{lab}, sid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY {_SEM_DIST.format(a='embedding', b='sv')}, sid) AS rn
  FROM (SELECT c.vec_id, c.embedding{lab_a}, s.sid, s.sv FROM corpus c CROSS JOIN seeds s)
),
cells AS (SELECT vec_id, embedding{lab}, sid AS cell FROM assign WHERE rn = 1),
probes AS (SELECT vec_id, embedding{lab}, sid AS cell FROM assign WHERE rn <= {n_probe}),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         {_SEM_COS.format(a='a.embedding', b='b.embedding')} AS cos_sim
  FROM probes a JOIN cells b ON a.cell = b.cell AND a.vec_id != b.vec_id{pair_filter}
),
graph AS (
  SELECT vec_id, nbr_id, cos_sim, rank FROM (
    SELECT vec_id, nbr_id, cos_sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id) AS rank
    FROM pairs
  ) WHERE rank <= {k}
)"""


def _s_knn_graph_oracle(
    k: int = 3, n_centroids: int = 16, n_probe: int = 1, neg_labels: bool = False
) -> str:
    """The knn-graph replay; ``neg_labels`` restricts neighbors to
    DIFFERENT-labeled rows (hard-negative mining) with NULL-labeled rows
    excluded from the corpus entirely, mirroring ``knn_graph``'s
    ``neg_label_col`` contract."""
    out_id = "neg_id" if neg_labels else "nbr_id"
    return f"""
WITH {_knn_graph_ctes(k, n_centroids, n_probe, neg_labels)}
SELECT vec_id, nbr_id AS {out_id}, cos_sim, CAST(rank AS INT) AS rank FROM graph
"""


def s_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph on the HYPERPLANE-LSH cell path with multiprobe
    (llm_ops.similarity.knn_graph, n_centroids=None): cells are sign-bit
    signatures (constant plan cost, O(N·planes·dim) assignment — the 100 TB
    default; the auto-sized seeded codebook's nearest-of-C assignment is
    O(N²·dim/target), the measured SCALE_CHECK 100× hazard), and each
    node's second probe flips its lowest-|projection| sign bit.  n_planes
    pinned at 4 for oracle determinism (the default auto-sizes from the
    corpus count)."""
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    return knn_graph(
        load(spark, sf_dir, "embeddings"), k=3, n_planes=4, n_probe=2, dim=64
    )


def _s_knn_graph_lsh_oracle(
    k: int = 3, n_planes: int = 4, n_probe: int = 2, dim: int = 64, seed: int = 42
) -> str:
    """DuckDB replay of the LSH-cell multiprobe graph: per-plane rounded
    projections (1e-9 — hyperplane_signature's sign-boundary guard), the
    sign-bit signature as the primary cell, and the second probe as
    ``xor(sig, 1 << argmin |projection|)`` with margin ties to the lower
    plane index — lsh_probe_cells_expr's exact contract.  Neighbors stay
    in their PRIMARY cell (the Spark b-side), sources probe both cells."""
    assert n_probe == 2, "oracle replays exactly one flipped probe"
    assert n_planes >= 2, "the flip CASE chain needs at least two planes"
    planes = _hyperplanes(dim, n_planes, seed)
    r_cols = ", ".join(
        f"round({_plane_dot_sql('embedding', p, dim)}, 9) AS r{i}"
        for i, p in enumerate(planes)
    )
    sig = " | ".join(
        f"(CASE WHEN r{i} >= 0 THEN {1 << i} ELSE 0 END)" for i in range(n_planes)
    )
    # argmin over |r_i| with ties to the lower index: plane i wins iff it
    # is <= every later plane and strictly beats no earlier winner
    flip_cases = []
    for i in range(n_planes - 1):
        conds = [f"abs(r{i}) <= abs(r{j})" for j in range(i + 1, n_planes)]
        if i > 0:
            conds = [f"abs(r{i}) < abs(r{j})" for j in range(i)] + conds
        flip_cases.append(f"WHEN {' AND '.join(conds)} THEN {i}")
    flip = f"CASE {' '.join(flip_cases)} ELSE {n_planes - 1} END"
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {dim}
    AND list_sum(list_transform(embedding,
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
),
proj AS (SELECT vec_id, embedding, {r_cols} FROM corpus),
cells AS (
  SELECT vec_id, embedding, CAST(sig AS BIGINT) AS cell,
         CAST(xor(sig, 1 << flip) AS BIGINT) AS cell2
  FROM (SELECT vec_id, embedding, ({sig}) AS sig, ({flip}) AS flip FROM proj)
),
probes AS (
  SELECT vec_id, embedding, cell FROM cells
  UNION ALL SELECT vec_id, embedding, cell2 FROM cells
),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         {_SEM_COS.format(a='a.embedding', b='b.embedding')} AS cos_sim
  FROM probes a JOIN cells b ON a.cell = b.cell AND a.vec_id != b.vec_id
),
graph AS (
  SELECT vec_id, nbr_id, cos_sim, rank FROM (
    SELECT vec_id, nbr_id, cos_sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id) AS rank
    FROM pairs
  ) WHERE rank <= {k}
)
SELECT vec_id, nbr_id, cos_sim, CAST(rank AS INT) AS rank FROM graph
"""


def s_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (llm_ops.similarity.
    label_propagation): labels seeded on the vec_id%4==0 quarter fan out
    over the k-NN graph for two majority-vote rounds — integer votes,
    smallest-label tie-break, so the whole walk is SQL-unrolled and
    oracle-checked."""
    from fineo_readerator_spark.llm_ops.similarity import label_propagation

    emb = load(spark, sf_dir, "embeddings")
    seed = F.when(F.col("vec_id") % 4 == 0, F.col("label").cast("int"))
    return label_propagation(emb, seed, k=3, n_centroids=16, n_iters=2).orderBy("vec_id")


def _s_label_propagation_oracle(
    k: int = 3, n_centroids: int = 16, n_iters: int = 2
) -> str:
    parts = [
        _knn_graph_ctes(k, n_centroids),
        "l0 AS (SELECT vec_id AS id,"
        " CASE WHEN vec_id % 4 = 0 THEN CAST(label AS INT) END AS seed,"
        " CASE WHEN vec_id % 4 = 0 THEN CAST(label AS INT) END AS lab"
        " FROM embeddings)",
    ]
    prev = "l0"
    for t in range(1, n_iters + 1):
        parts.append(
            f"""v{t} AS (
  SELECT g.vec_id AS id, l.lab AS vote, count(*) AS c
  FROM graph g JOIN {prev} l ON g.nbr_id = l.id
  WHERE l.lab IS NOT NULL GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""p{t} AS (
  SELECT id, vote FROM (
    SELECT id, vote, row_number() OVER (PARTITION BY id ORDER BY c DESC, vote) AS rn
    FROM v{t}
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""l{t} AS (
  SELECT l.id, l.seed, coalesce(l.seed, p.vote, l.lab) AS lab
  FROM {prev} l LEFT JOIN p{t} p ON l.id = p.id
)"""
        )
        prev = f"l{t}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT id AS vec_id, lab AS label,
       CASE WHEN seed IS NOT NULL THEN 'seed'
            WHEN lab IS NOT NULL THEN 'propagated'
            ELSE 'unlabeled' END AS origin
FROM {prev} ORDER BY vec_id
"""
    )


def ensure_knn_graph_layout(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    n_centroids: int | None = 16,
    n_probe: int = 1,
    n_planes: int | None = None,
) -> str:
    """Materialize the k-NN graph AT REST, once per (corpus fingerprint,
    k, cells, n_probe): at 100 TB the graph build (cell assignment +
    in-cell join + top-k) dominates every graph consumer — pagerank, label
    propagation, hard negatives, recall audit each rebuilt it per query.
    Same lifecycle as the IVF layout: edges written under ``.kv_cache``,
    ``_params.json`` carries the build parameters (probes must never
    re-derive them — the derived-store rule), and the source-fingerprint
    stamp is written LAST as the completion marker.  A parameter change or
    source regeneration rebuilds; consumers re-attach via
    ``spark.read.parquet`` and the ``graph=`` argument of
    :func:`~fineo_readerator_spark.llm_ops.similarity.pagerank` /
    ``label_propagation``."""
    import json

    from fineo_readerator_spark.llm_ops.dedup import _fs_read_text, _fs_write_text
    from fineo_readerator_spark.llm_ops.similarity import knn_graph
    from fineo_readerator_spark.plans.registry import (
        snapshot_is_fresh,
        source_fingerprint,
        stamp_snapshot,
    )

    # the parameter tuple is part of the layout identity — two consumers
    # with different (k, cells, probe) must land in DIFFERENT slots, or they
    # alternately fail the params check and rebuild the full graph per query
    # n_planes is meaningless on the seeded path — normalize it out, or two
    # callers differing only in a no-op n_planes would share a slot name
    # but fail each other's params check and rebuild alternately
    if n_centroids is not None:
        n_planes = None
    cell_tag = (
        f"c{n_centroids}"
        if n_centroids is not None
        else ("lshauto" if n_planes is None else f"lsh{n_planes}")
    )
    path = _ivf_layout_path(sf_dir).with_name(
        f"knn_graph_k{k}_{cell_tag}_p{n_probe}"
    )
    fp = source_fingerprint(sf_dir, "embeddings")
    params = {
        "k": k,
        "n_centroids": n_centroids,
        "n_probe": n_probe,
        "n_planes": n_planes,
    }
    fresh = snapshot_is_fresh(path, fp)
    if fresh:
        try:
            fresh = json.loads(_fs_read_text(spark, f"{path}/_params.json")) == params
        except Exception:  # noqa: BLE001 — unreadable meta = rebuild
            fresh = False
    if not fresh:
        edges = knn_graph(
            load(spark, sf_dir, "embeddings"),
            k=k,
            n_centroids=n_centroids,
            n_probe=n_probe,
            n_planes=n_planes,
        )
        # overwrite clears any stale stamp/params before the new data lands
        edges.write.mode("overwrite").parquet(str(path))
        _fs_write_text(spark, f"{path}/_params.json", json.dumps(params))
        stamp_snapshot(path, fp)
    return str(path)


def s_graph_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank re-attached to the PERSISTED k-NN graph layout
    (:func:`ensure_knn_graph_layout`): the per-query plan reads stored
    edge rows — no codebook argmin, no in-cell join, no top-k window
    (plan-pinned in tests) — so adding a graph consumer costs an
    edge-frame read, not a graph build.  Same parameters as
    ``s_pagerank``, so the oracle is the same unrolled replay."""
    from fineo_readerator_spark.llm_ops.similarity import pagerank

    path = ensure_knn_graph_layout(spark, sf_dir, k=3, n_centroids=16)
    edges = spark.read.parquet(path).select("vec_id", "nbr_id")
    return pagerank(load(spark, sf_dir, "embeddings"), n_iters=2, graph=edges)


def s_label_prop_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation re-attached to the PERSISTED k-NN graph layout —
    the second consumer proving the layout lifecycle is shared, not
    pagerank-specific: ``ensure_knn_graph_layout`` materializes (or finds
    fresh) the same (k=3, c16, p1) slot ``s_graph_layout`` uses, and the
    per-query plan is two vote joins over stored edge rows with zero
    build machinery (plan-pinned in tests).  At 100 TB the graph build
    dominates every consumer, so re-attach — not rebuild — is the
    production shape for label fan-out too.  Same seeds/parameters as
    ``s_label_propagation``, so the oracle is the same unrolled replay."""
    from fineo_readerator_spark.llm_ops.similarity import label_propagation

    path = ensure_knn_graph_layout(spark, sf_dir, k=3, n_centroids=16)
    edges = spark.read.parquet(path).select("vec_id", "nbr_id")
    emb = load(spark, sf_dir, "embeddings")
    seed = F.when(F.col("vec_id") % 4 == 0, F.col("label").cast("int"))
    return label_propagation(emb, seed, n_iters=2, graph=edges).orderBy("vec_id")


def s_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    PERSISTED k-NN graph (third layout consumer, after pagerank and label
    propagation): how clique-ish each vector's neighborhood is — low
    coefficients flag hub/bridge points where the embedding manifold is
    thin, high ones dense duplicate-ish clusters.

    Exact combinatorics, no floats: the directed top-k edges collapse to a
    DISTINCT undirected (u < v) edge set; triangles enumerate ONCE as
    ordered (a < b < c) via two equi-joins plus a semi-join probe, then
    explode to their three member nodes; ``clustering_ppm`` is the half-up
    integer ppm of ``2·triangles / (degree·(degree−1))`` (0 when degree
    < 2).  Scale shape: edges are O(N·k), the wedge join is bounded by
    Σ deg² (k-regular: O(N·k²)) — never corpus²; the semi-join probes the
    same O(N·k) edge frame."""
    from fineo_readerator_spark.llm_ops.similarity import graph_triangles

    path = ensure_knn_graph_layout(spark, sf_dir, k=3, n_centroids=16)
    edges = spark.read.parquet(path).select("vec_id", "nbr_id")
    return graph_triangles(edges).orderBy("vec_id")


def _s_graph_triangles_oracle(k: int = 3, n_centroids: int = 16) -> str:
    return f"""
WITH {_knn_graph_ctes(k, n_centroids)},
und AS (
  SELECT DISTINCT least(vec_id, nbr_id) AS u, greatest(vec_id, nbr_id) AS v
  FROM graph WHERE vec_id != nbr_id
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und
  ) GROUP BY node
),
tris AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
  WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.u = e1.v AND e3.v = e2.v)
),
per_node AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT a AS node FROM tris UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY node
)
SELECT deg.node AS vec_id, degree,
       CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN degree < 2 THEN CAST(0 AS BIGINT) ELSE
         CAST((CAST(coalesce(triangles, 0) AS HUGEINT) * 4000000
               + degree * (degree - 1))
              // (CAST(degree AS HUGEINT) * (degree - 1) * 2) AS BIGINT) END
         AS clustering_ppm
FROM deg LEFT JOIN per_node ON deg.node = per_node.node
ORDER BY vec_id
"""


def s_ppr_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank re-attached to the PERSISTED k-NN graph
    layout (fourth layout consumer — llm_ops.similarity.
    personalized_pagerank): the walk teleports only to the vec_id%7==0
    seed set, so mass concentrates on the seeds' graph neighborhood — the
    "more like these" corpus-expansion a curator runs from a hand-picked
    exemplar set, where global pagerank answers corpus-wide centrality.
    Re-attach matters MOST here: seed sets change per curation task while
    the graph doesn't, so at 100 TB the same stored edges serve every
    seed-set query (plan-pinned in tests: no codebook argmin, no in-cell
    join).  Same numeric discipline as s_pagerank (1e-12-rounded double
    rounds over exact decimal sums), so the walk is SQL-unrolled and
    oracle-checked."""
    from fineo_readerator_spark.llm_ops.similarity import personalized_pagerank

    path = ensure_knn_graph_layout(spark, sf_dir, k=3, n_centroids=16)
    edges = spark.read.parquet(path).select("vec_id", "nbr_id")
    return personalized_pagerank(
        load(spark, sf_dir, "embeddings"),
        F.col("vec_id") % 7 == 0,
        n_iters=2,
        graph=edges,
    )


def _s_ppr_layout_oracle(
    k: int = 3,
    n_centroids: int = 16,
    n_iters: int = 2,
    damping: float = 0.85,
    seed_mod: int = 7,
) -> str:
    """Unrolled personalized-PageRank replay on the shared knn-graph CTEs.
    Teleport goes only to seed nodes (``id % seed_mod = 0``) at
    ``1/n_seeds``; literals are ``repr()``-interpolated from the SAME
    python floats the Spark side uses (the pagerank discipline)."""
    tele, damp = 1.0 - damping, float(damping)
    parts = [
        _knn_graph_ctes(k, n_centroids),
        "nodes AS (SELECT DISTINCT id FROM"
        " (SELECT vec_id AS id FROM graph UNION ALL SELECT nbr_id FROM graph))",
        f"nf AS (SELECT id, id % {seed_mod} = 0 AS is_seed FROM nodes)",
        "nsn AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM nf WHERE is_seed)",
        "deg AS (SELECT vec_id AS src, count(*) AS d FROM graph GROUP BY 1)",
        "r0 AS (SELECT id, is_seed,"
        " CASE WHEN is_seed THEN round(CAST(1 AS DOUBLE) / (SELECT ns FROM nsn), 12)"
        " ELSE CAST(0 AS DOUBLE) END AS r FROM nf)",
    ]
    prev = "r0"
    for t in range(1, n_iters + 1):
        parts.append(
            f"""c{t} AS (
  SELECT g.nbr_id AS id, round(p.r / d.d, 12) AS c
  FROM graph g JOIN {prev} p ON g.vec_id = p.id JOIN deg d ON g.vec_id = d.src
)"""
        )
        parts.append(
            f"s{t} AS (SELECT id, sum(CAST(c AS DECIMAL(38,12))) AS s"
            f" FROM c{t} GROUP BY 1)"
        )
        parts.append(
            f"""r{t} AS (
  SELECT n.id, n.is_seed,
         round(CASE WHEN n.is_seed THEN CAST({tele!r} AS DOUBLE) / (SELECT ns FROM nsn)
                    ELSE CAST(0 AS DOUBLE) END
               + CAST({damp!r} AS DOUBLE)
               * coalesce(CAST(s.s AS DOUBLE), CAST(0 AS DOUBLE)), 12) AS r
  FROM nf n LEFT JOIN s{t} s ON n.id = s.id
)"""
        )
        prev = f"r{t}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id AS vec_id, is_seed, r AS ppr FROM {prev} ORDER BY vec_id"
    )


def s_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram + reciprocity audit over the PERSISTED k-NN
    graph (fifth layout consumer — llm_ops.similarity.
    graph_degree_profile): a top-k graph has constant out-degree, so hubs
    only show in the IN-degree distribution (a few nodes absorbing most
    edges = a collapsed embedding region or a boilerplate cluster), and
    low reciprocity means "nearest neighbor" is one-directional — the
    graph-quality gate a curator reads before trusting pagerank / label
    propagation built on the same edges.  Pure integers (half-up ppm);
    edges O(N·k), reciprocity one self-semi-join on (src,dst), output ≤
    max-in-degree rows."""
    from fineo_readerator_spark.llm_ops.similarity import graph_degree_profile

    path = ensure_knn_graph_layout(spark, sf_dir, k=3, n_centroids=16)
    edges = spark.read.parquet(path).select("vec_id", "nbr_id")
    return graph_degree_profile(edges).orderBy("in_degree")


def _s_graph_degrees_oracle(k: int = 3, n_centroids: int = 16) -> str:
    return f"""
WITH {_knn_graph_ctes(k, n_centroids)},
src AS (SELECT vec_id AS node, nbr_id AS nbr FROM graph),
nodes AS (SELECT DISTINCT node FROM (SELECT node FROM src UNION ALL SELECT nbr FROM src)),
outd AS (SELECT node, count(*) AS o FROM src GROUP BY node),
ind AS (SELECT nbr AS node, count(*) AS i FROM src GROUP BY nbr),
recip AS (
  SELECT s.node, count(*) AS rc FROM src s
  WHERE EXISTS (SELECT 1 FROM src r WHERE r.node = s.nbr AND r.nbr = s.node)
  GROUP BY s.node
),
per AS (
  SELECT coalesce(i.i, 0) AS in_degree, coalesce(o.o, 0) AS o,
         coalesce(rc.rc, 0) AS rc
  FROM nodes n
  LEFT JOIN outd o ON n.node = o.node
  LEFT JOIN ind i ON n.node = i.node
  LEFT JOIN recip rc ON n.node = rc.node
)
SELECT CAST(in_degree AS BIGINT) AS in_degree,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(rc) AS BIGINT) AS recip_edges,
       CASE WHEN sum(o) = 0 THEN CAST(0 AS BIGINT) ELSE
         CAST((CAST(sum(rc) AS HUGEINT) * 2000000 + sum(o))
              // (CAST(sum(o) AS HUGEINT) * 2) AS BIGINT) END AS recip_ppm
FROM per GROUP BY in_degree ORDER BY in_degree
"""


def s_kcore_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peel over the PERSISTED k-NN graph (sixth layout
    consumer — llm_ops.similarity.kcore_peel): survivors are the densely
    mutually-similar core (duplicate-cluster hearts, topic cores), the
    peeled periphery is the outlier-mining frontier — subgraph-level
    density beside s_graph_triangles' local coefficient.  Three unrolled
    peel rounds (k=2), pure integer degrees; each round two semi-joins +
    one degree agg over O(N·k) stored edges."""
    from fineo_readerator_spark.llm_ops.similarity import kcore_peel

    path = ensure_knn_graph_layout(spark, sf_dir, k=3, n_centroids=16)
    edges = spark.read.parquet(path).select("vec_id", "nbr_id")
    return kcore_peel(edges, k=2, n_rounds=3).orderBy("vec_id")


def _s_kcore_layout_oracle(
    k: int = 3, n_centroids: int = 16, core_k: int = 2, n_rounds: int = 3
) -> str:
    # the peel-round CTE chain lives in similarity.kcore_peel_oracle_sql
    # (shared with the r10 fuzz harness); only the knn-graph edge source
    # is query-specific here
    from fineo_readerator_spark.llm_ops.similarity import kcore_peel_oracle_sql

    return kcore_peel_oracle_sql(
        "SELECT vec_id, nbr_id FROM graph",
        k=core_k,
        n_rounds=n_rounds,
        extra_ctes=_knn_graph_ctes(k, n_centroids),
    )


def s_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard link prediction over the PERSISTED k-NN graph
    (seventh layout consumer — llm_ops.similarity.neighbor_jaccard): top
    pairs whose out-neighbor sets overlap — near-duplicates the direct
    edge set missed because they rank the same neighbors without ranking
    each other.  Hub neighbors (in-degree > 64) leave the sets before the
    wedge join, bounding pairs at Σ min(in_degree, cap)²; pure-integer
    half-up ppm, deterministic (jac DESC, id_a, id_b) top-200."""
    from fineo_readerator_spark.llm_ops.similarity import neighbor_jaccard

    path = ensure_knn_graph_layout(spark, sf_dir, k=3, n_centroids=16)
    edges = spark.read.parquet(path).select("vec_id", "nbr_id")
    return neighbor_jaccard(edges, "vec_id", top_pairs=200, max_in_degree=64)


def _s_jaccard_neighbors_oracle(k: int = 3, n_centroids: int = 16) -> str:
    from fineo_readerator_spark.llm_ops.similarity import (
        neighbor_jaccard_oracle_sql,
    )

    return neighbor_jaccard_oracle_sql(
        "SELECT vec_id, nbr_id FROM graph",
        top_pairs=200,
        max_in_degree=64,
        extra_ctes=_knn_graph_ctes(k, n_centroids),
    )


def s_top_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the centered embedding corpus by
    distributed power iteration (llm_ops.similarity.power_iteration_top)
    — the anisotropy/collapse audit: a high top_share means the space has
    degenerated toward a line and every cosine-based operator upstream
    (dedup, ANN, clustering) is losing resolution.  Two SQL-unrolled
    rounds under the pagerank float discipline (1e-12-rounded terms,
    exact decimal sums, shared v₀ = 1/sqrt(dim) literal); all shuffles on
    the posexploded (id, pos) grain with dim-sized/single-row broadcasts
    — no collect, no corpus²."""
    from fineo_readerator_spark.llm_ops.similarity import power_iteration_top

    return power_iteration_top(load(spark, sf_dir, "embeddings"), n_iters=2)


def _s_top_direction_oracle(n_iters: int = 2) -> str:
    parts = [
        """base0 AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
dm AS MATERIALIZED (SELECT d FROM (SELECT len(embedding) AS d, count(*) AS c FROM base0
      GROUP BY 1 ORDER BY c DESC, d LIMIT 1)),
ex AS (
  SELECT vec_id AS id, u.pos AS pos, u.v AS x
  FROM (SELECT vec_id,
               unnest(list_transform(generate_series(1, len(embedding)),
                      i -> {'pos': i - 1, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
        FROM base0 WHERE len(embedding) = (SELECT d FROM dm))
),
mu AS MATERIALIZED (SELECT pos, round(avg(x), 6) AS m FROM ex GROUP BY pos),
xc AS MATERIALIZED (
  SELECT id, ex.pos, x - m AS xc FROM ex JOIN mu ON ex.pos = mu.pos
),
v0 AS MATERIALIZED (SELECT pos, CAST(1 AS DOUBLE) / sqrt((SELECT d FROM dm)) AS val FROM mu)""",
    ]
    prev = "v0"
    for t in range(1, n_iters + 1):
        parts.append(
            f"""d{t} AS MATERIALIZED (
  SELECT id, CAST(sum(CAST(round(xc * val, 12) AS DECIMAL(38,12))) AS DOUBLE) AS d
  FROM xc JOIN {prev} v ON xc.pos = v.pos GROUP BY id
)"""
        )
        parts.append(
            f"""w{t} AS MATERIALIZED (
  SELECT pos, CAST(sum(CAST(round(d.d * xc.xc, 12) AS DECIMAL(38,12))) AS DOUBLE) AS w
  FROM xc JOIN d{t} d ON xc.id = d.id GROUP BY pos
)"""
        )
        parts.append(
            f"n{t} AS MATERIALIZED (SELECT"
            " sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE))"
            f" AS nrm FROM w{t})"
        )
        parts.append(
            f"""v{t} AS MATERIALIZED (
  SELECT pos, CASE WHEN (SELECT nrm FROM n{t}) > 0
                   THEN round(w / (SELECT nrm FROM n{t}), 12)
                   ELSE CAST(0 AS DOUBLE) END AS val
  FROM w{t}
)"""
        )
        prev = f"v{t}"
    parts.append(
        f"""df AS MATERIALIZED (
  SELECT id, CAST(sum(CAST(round(xc * val, 12) AS DECIMAL(38,12))) AS DOUBLE) AS d
  FROM xc JOIN {prev} v ON xc.pos = v.pos GROUP BY id
)"""
    )
    parts.append(
        """top AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         round(CAST(sum(CAST(round(d * d, 12) AS DECIMAL(38,12))) AS DOUBLE)
               / count(*), 6) AS var_top
  FROM df
)"""
    )
    parts.append(
        """sq AS (
  SELECT id, CAST(sum(CAST(round(xc * xc, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sq
  FROM xc GROUP BY id
),
tot AS (
  SELECT round(CAST(sum(CAST(round(sq, 12) AS DECIMAL(38,12))) AS DOUBLE)
               / count(*), 6) AS var_total
  FROM sq
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT n, CAST((SELECT d FROM dm) AS INT) AS dim, var_top, var_total,
       CASE WHEN var_total > 0 THEN round(var_top / var_total, 6) END AS top_share
FROM top CROSS JOIN tot
"""
    )


def s_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the k-NN similarity graph (llm_ops.
    similarity.pagerank): two damped power-iteration rounds with
    1e-12-rounded per-edge contributions and exact decimal sums — the
    whole walk is SQL-unrolled and oracle-checked.  Graph builds once;
    each round is one edge×rank join plus a node-keyed agg."""
    from fineo_readerator_spark.llm_ops.similarity import pagerank

    return pagerank(
        load(spark, sf_dir, "embeddings"), k=3, n_centroids=16, n_iters=2
    )


def _s_pagerank_oracle(
    k: int = 3, n_centroids: int = 16, n_iters: int = 2, damping: float = 0.85
) -> str:
    """Unrolled PageRank replay on top of the shared knn-graph CTEs.  The
    damping/teleport literals are ``repr()``-interpolated from the SAME
    python floats the Spark side uses (1-0.85 is 0.15000000000000002 — a
    bare 0.15 literal would diverge at the 1e-12 rounding boundary)."""
    tele, damp = 1.0 - damping, float(damping)
    parts = [
        _knn_graph_ctes(k, n_centroids),
        "nodes AS (SELECT DISTINCT id FROM"
        " (SELECT vec_id AS id FROM graph UNION ALL SELECT nbr_id FROM graph))",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "deg AS (SELECT vec_id AS src, count(*) AS d FROM graph GROUP BY 1)",
        "r0 AS (SELECT id, round(CAST(1 AS DOUBLE) / (SELECT n FROM nn), 12) AS r"
        " FROM nodes)",
    ]
    prev = "r0"
    for t in range(1, n_iters + 1):
        parts.append(
            f"""c{t} AS (
  SELECT g.nbr_id AS id, round(p.r / d.d, 12) AS c
  FROM graph g JOIN {prev} p ON g.vec_id = p.id JOIN deg d ON g.vec_id = d.src
)"""
        )
        parts.append(
            f"s{t} AS (SELECT id, sum(CAST(c AS DECIMAL(38,12))) AS s"
            f" FROM c{t} GROUP BY 1)"
        )
        parts.append(
            f"""r{t} AS (
  SELECT n.id, round(CAST({tele!r} AS DOUBLE) / (SELECT n FROM nn)
       + CAST({damp!r} AS DOUBLE) * coalesce(CAST(s.s AS DOUBLE), CAST(0 AS DOUBLE)), 12) AS r
  FROM nodes n LEFT JOIN s{t} s ON n.id = s.id
)"""
        )
        prev = f"r{t}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id AS vec_id, r AS pagerank FROM {prev} ORDER BY vec_id"
    )


def s_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval ranking metrics (llm_ops.ranking.ranking_metrics) over the
    batch-ANN run: MRR / precision@5 / NDCG@5 per query against
    label-match qrels (sparsified to vec_id%3==0 so n_rel varies) — the
    eval gate a retrieval corpus passes before it ships.  Every metric is
    an integer; the NDCG discounts are python-literal CASE tables shared
    verbatim with the oracle, so no engine evaluates a logarithm."""
    from fineo_readerator_spark.llm_ops.ranking import ranking_metrics
    from fineo_readerator_spark.llm_ops.similarity import ann_batch_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    run = ann_batch_topk(emb.filter(F.col("vec_id") >= 3), queries, k=5)
    qrels = (
        emb.filter(F.col("vec_id") < 3)
        .alias("q")
        .join(
            emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") % 3 == 0)).alias("c"),
            F.col("q.label") == F.col("c.label"),
        )
        .select(F.col("q.vec_id").alias("query_id"), F.col("c.vec_id").alias("vec_id"))
    )
    return ranking_metrics(
        run, qrels, k=5, query_col="query_id", doc_col="vec_id", rank_col="rank"
    ).orderBy("query_id")


def _s_rank_eval_oracle() -> str:
    from fineo_readerator_spark.llm_ops.ranking import ranking_metrics_oracle_sql

    qrels_sql = (
        "SELECT q.vec_id AS query_id, c.vec_id AS vec_id"
        " FROM embeddings q, embeddings c"
        " WHERE q.vec_id < 3 AND c.vec_id >= 3 AND c.vec_id % 3 = 0"
        " AND q.label = c.label"
    )
    return (
        ranking_metrics_oracle_sql(
            f"SELECT query_id, vec_id, rank FROM ({S_ANN_BATCH_ORACLE})",
            qrels_sql,
            k=5,
            query_col="query_id",
            doc_col="vec_id",
        )
        + " ORDER BY query_id"
    )


def s_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the k-NN graph vs exact brute force (llm_ops.
    similarity.knn_recall_audit) on the vec_id%125==0 node sample — the
    index-quality report that validates n_centroids/n_probe before the
    graph consumers run.  Exact side broadcasts only the sampled queries
    against one corpus scan; recall is a ratio of two exact counts."""
    from fineo_readerator_spark.llm_ops.similarity import knn_recall_audit

    return knn_recall_audit(
        load(spark, sf_dir, "embeddings"), sample_mod=125, k=3, n_centroids=16
    )


def _s_recall_audit_oracle(
    sample_mod: int = 125, k: int = 3, n_centroids: int = 16, n_probe: int = 1
) -> str:
    return f"""
WITH {_knn_graph_ctes(k, n_centroids, n_probe)},
approx AS (SELECT vec_id AS qid, nbr_id AS nbr FROM graph WHERE vec_id % {sample_mod} = 0),
rk AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM corpus
),
rankable AS (SELECT vec_id, embedding FROM rk WHERE nrm > 0),
exact AS (
  SELECT qid, nbr FROM (
    SELECT q.vec_id AS qid, c.vec_id AS nbr,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             {_SEM_COS.format(a='c.embedding', b='q.embedding')} DESC, c.vec_id) AS rn
    FROM (SELECT * FROM rankable WHERE vec_id % {sample_mod} = 0) q
    JOIN rankable c ON c.vec_id != q.vec_id
  ) WHERE rn <= {k}
),
ne AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY 1),
h AS (SELECT e.qid, count(*) AS c FROM exact e JOIN approx a ON e.qid = a.qid AND e.nbr = a.nbr GROUP BY 1)
SELECT ne.qid AS vec_id, ne.n_exact,
       CAST(coalesce(h.c, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(h.c, 0) AS BIGINT) / ne.n_exact, 6) AS recall
FROM ne LEFT JOIN h ON ne.qid = h.qid
ORDER BY vec_id
"""


def s_knn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe k-NN graph: each node ALSO searches its runner-up cell
    (n_probe=2), recovering the neighbors the single-cell graph loses at
    cell boundaries — the documented recall-recovery knob, still
    cell-bounded (candidate volume 2×, never the corpus)."""
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    return knn_graph(load(spark, sf_dir, "embeddings"), k=3, n_centroids=16, n_probe=2)


def s_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (llm_ops.similarity.hard_negatives): each
    anchor's top-3 most-similar DIFFERENT-labeled vectors — the contrastive
    training batch-construction primitive.  Cell-bounded candidates, label
    inequality before top-k, NULL-labeled rows excluded from both sides."""
    from fineo_readerator_spark.llm_ops.similarity import hard_negatives

    return hard_negatives(load(spark, sf_dir, "embeddings"), k=3, n_centroids=16)


def p_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff between two corpus versions — per-source
    added/removed/changed/unchanged counts (llm_ops.versioning.corpus_diff).
    The v2 corpus is a deterministic in-query mutation of v1: drop
    doc_id%17==3, rewrite text on %13==5, add %11==0 under shifted ids.
    One id-keyed full outer join; text compared by hash in the scan
    projection, never shuffled."""
    from fineo_readerator_spark.llm_ops.versioning import corpus_diff

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    did = F.col("doc_id")
    new = (
        docs.filter(did % 17 != 3)
        .withColumn(
            "text",
            F.when(did % 13 == 5, F.concat(F.col("text"), F.lit(" [v2]"))).otherwise(
                F.col("text")
            ),
        )
        .unionByName(
            docs.filter(did % 11 == 0).select(
                (did + _SHIFT).alias("doc_id"), "text", "source"
            )
        )
    )
    return corpus_diff(docs, new)


def _p_corpus_diff_oracle() -> str:
    from fineo_readerator_spark.llm_ops.versioning import corpus_diff_oracle_sql

    old_sql = "SELECT doc_id, text, source FROM documents"
    new_sql = f"""
SELECT doc_id,
       CASE WHEN doc_id % 13 = 5 THEN text || ' [v2]' ELSE text END AS text,
       source
FROM documents WHERE doc_id % 17 != 3
UNION ALL
SELECT doc_id + {_SHIFT}, text, source FROM documents WHERE doc_id % 11 = 0"""
    return corpus_diff_oracle_sql(old_sql, new_sql)


def t_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization for dedup keys
    (llm_ops.textstats.normalize_text): casefold + strip URLs/emails +
    collapse whitespace, row-local codegen'd regex chains.  The corpus is
    salted in-query with tracking URLs and mixed-case emails on some docs
    so the stripping legs actually execute."""
    from fineo_readerator_spark.llm_ops.textstats import normalize_text

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    dirty = docs.withColumn(
        "text",
        F.when(
            did % 7 == 1,
            F.concat_ws(
                "",
                F.col("text"),
                F.lit(" Visit https://ex.com/a?sid="),
                did.cast("string"),
                F.lit("   NOW"),
            ),
        )
        .when(
            did % 7 == 3,
            F.concat_ws(
                "",
                F.col("text"),
                F.lit(" contact Bob"),
                did.cast("string"),
                F.lit("@Example.COM  ok"),
            ),
        )
        .otherwise(F.col("text")),
    )
    return normalize_text(dirty).select("doc_id", "norm_text", "n_norm_tokens")


def _t_normalize_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import normalize_oracle_exprs

    return f"""
WITH __d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 1
                THEN text || ' Visit https://ex.com/a?sid=' || doc_id || '   NOW'
              WHEN doc_id % 7 = 3
                THEN text || ' contact Bob' || doc_id || '@Example.COM  ok'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id, {normalize_oracle_exprs('text')} FROM __d
"""


def p_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality resampling (llm_ops.sampling.quality_resample):
    head/middle/tail by quality-score terciles from the fixed-bin histogram
    sketch, kept at 1.0/0.5/0.1 by the portable hash bucket — two corpus
    passes (sketch, then filter), zero materialization, thresholds
    broadcast."""
    from fineo_readerator_spark.llm_ops.sampling import quality_resample
    from fineo_readerator_spark.llm_ops.textstats import with_text_stats

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    scored = with_text_stats(docs, "text").select("doc_id", "quality_score")
    return (
        quality_resample(scored, "quality_score", "doc_id")
        .select("doc_id", "bucket")
        .orderBy("doc_id")
    )


def _p_quality_resample_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import quality_resample_oracle_sql
    from fineo_readerator_spark.llm_ops.textstats import text_stats_oracle_exprs

    source = f"SELECT doc_id, {text_stats_oracle_exprs('text')} FROM documents"
    return (
        quality_resample_oracle_sql(
            source, "quality_score", "doc_id", extra_cols="doc_id, "
        )
        + " ORDER BY doc_id"
    )


def p_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE materialization (llm_ops.versioning.apply_changes): the
    next documents snapshot from the base plus a synthesized change batch —
    deletes (%13==2), text updates (%11==3), inserts under shifted ids
    (%17==5), and a conflicting update+delete pair for %19==4 where the
    higher-seq delete must win via latest-wins.  One WindowGroupLimit over
    the change batch, one id-keyed full outer join; the base never shuffles
    beyond the join."""
    from fineo_readerator_spark.llm_ops.versioning import apply_changes

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    did = F.col("doc_id")
    deletes = docs.filter(did % 13 == 2).select(
        "doc_id", F.lit("delete").alias("op"), F.lit(1).alias("seq"), "text", "source"
    )
    updates = docs.filter(did % 11 == 3).select(
        "doc_id",
        F.lit("update").alias("op"),
        F.lit(1).alias("seq"),
        F.concat(F.col("text"), F.lit(" (rev)")).alias("text"),
        "source",
    )
    inserts = docs.filter(did % 17 == 5).select(
        (did + _SHIFT).alias("doc_id"),
        F.lit("insert").alias("op"),
        F.lit(1).alias("seq"),
        "text",
        "source",
    )
    conflict = docs.filter(did % 19 == 4).select(
        "doc_id", F.lit("delete").alias("op"), F.lit(2).alias("seq"), "text", "source"
    ).unionByName(
        docs.filter(did % 19 == 4).select(
            "doc_id",
            F.lit("update").alias("op"),
            F.lit(1).alias("seq"),
            F.concat(F.col("text"), F.lit(" (lost)")).alias("text"),
            "source",
        )
    )
    changes = deletes.unionByName(updates).unionByName(inserts).unionByName(conflict)
    return apply_changes(
        docs, changes, "doc_id", "op", seq_col="seq", payload_cols=["text", "source"]
    ).orderBy("doc_id")


def _p_cdc_merge_oracle() -> str:
    from fineo_readerator_spark.llm_ops.versioning import apply_changes_oracle_sql

    changes = f"""
SELECT doc_id, 'delete' AS op, 1 AS seq, text, source FROM documents WHERE doc_id % 13 = 2
UNION ALL
SELECT doc_id, 'update', 1, text || ' (rev)', source FROM documents WHERE doc_id % 11 = 3
UNION ALL
SELECT doc_id + {_SHIFT}, 'insert', 1, text, source FROM documents WHERE doc_id % 17 = 5
UNION ALL
SELECT doc_id, 'delete', 2, text, source FROM documents WHERE doc_id % 19 = 4
UNION ALL
SELECT doc_id, 'update', 1, text || ' (lost)', source FROM documents WHERE doc_id % 19 = 4"""
    return (
        apply_changes_oracle_sql(
            "SELECT doc_id, text, source FROM documents",
            changes,
            "doc_id",
            "op",
            seq_col="seq",
            payload_cols=["text", "source"],
        )
        + " ORDER BY doc_id"
    )


def p_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-gate data audit over a deliberately-dirtied corpus: null
    text, non-positive n_chars, duplicate primary keys, and embedding-FK
    orphans — each check family in its minimal number of scans
    (operators/audit.py: all row checks fuse into ONE aggregate pass;
    uniqueness is count-vs-distinct; FK is one left join against distinct
    parent keys)."""
    from fineo_readerator_spark.operators.audit import (
        audit_report,
        fk_check,
        row_checks,
        unique_check,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    did = F.col("doc_id")
    raw = docs.unionByName(docs.filter(did % 31 == 1)).unionByName(
        docs.filter(did % 41 == 2).select((did + _SHIFT).alias("doc_id"), "text", "n_chars")
    )
    dirty = raw.select(
        "doc_id",
        F.when(did % 19 == 7, F.lit(None).cast("string")).otherwise(F.col("text")).alias("text"),
        F.when(did % 23 == 11, -F.col("n_chars")).otherwise(F.col("n_chars")).alias("n_chars"),
    )
    emb = load(spark, sf_dir, "embeddings")
    return audit_report(
        row_checks(
            dirty,
            "documents_dirty",
            {
                "null_text": F.col("text").isNull(),
                "nonpositive_n_chars": F.col("n_chars") <= 0,
            },
        ),
        unique_check(dirty, "documents_dirty", ["doc_id"], "unique_doc_id"),
        fk_check(dirty, emb, "documents_dirty", "doc_id", "vec_id", "fk_embedding"),
    )


def _p_data_audit_oracle() -> str:
    dirty = f"""
SELECT doc_id,
       CASE WHEN doc_id % 19 = 7 THEN NULL ELSE text END AS text,
       CASE WHEN doc_id % 23 = 11 THEN -n_chars ELSE n_chars END AS n_chars
FROM (
  SELECT doc_id, text, n_chars FROM documents
  UNION ALL SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 31 = 1
  UNION ALL SELECT doc_id + {_SHIFT}, text, n_chars FROM documents WHERE doc_id % 41 = 2
)"""
    return f"""
WITH __d AS ({dirty}),
__rows AS (
  SELECT 'null_text' AS check_name, count(*) FILTER (text IS NULL) AS violations,
         count(*) AS total FROM __d
  UNION ALL
  SELECT 'nonpositive_n_chars', count(*) FILTER (n_chars <= 0), count(*) FROM __d
  UNION ALL
  SELECT 'unique_doc_id', count(*) - count(DISTINCT doc_id), count(*) FROM __d
  UNION ALL
  SELECT 'fk_embedding', count(*) FILTER (e.vec_id IS NULL), count(*)
  FROM __d LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings) e ON __d.doc_id = e.vec_id
)
SELECT 'documents_dirty' AS table_name, check_name, violations, total,
       violations = 0 AS passed
FROM __rows ORDER BY table_name, check_name
"""


def d_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular dedup with reassembly
    (llm_ops.dedup.paragraph_dedup): the corpus is documents plus a
    30-token-prefix "boilerplate" copy of each doc under LOWER (shifted
    negative) ids, so the prefix copies win first-occurrence and every
    original loses its leading two paragraphs but keeps its tail — the
    cross-document boilerplate-stripping shape document-level dedup can't
    express."""
    from fineo_readerator_spark.llm_ops.dedup import paragraph_dedup
    from fineo_readerator_spark.llm_ops.textstats import tokens

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    prefixes = docs.select(
        (F.col("doc_id") - _SHIFT).alias("doc_id"),
        F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 30)).alias("text"),
    )
    return paragraph_dedup(prefixes.unionByName(docs), "doc_id", "text")


def _d_paragraph_dedup_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup import paragraph_dedup_oracle_sql

    toks = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0)"
    corpus = f"""
SELECT doc_id - {_SHIFT} AS doc_id,
       array_to_string(({toks})[1:30], ' ') AS text
FROM documents
UNION ALL SELECT doc_id, text FROM documents"""
    return paragraph_dedup_oracle_sql(corpus)


def d_best_rep_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash dedup keeping the LONGEST cluster member (n_chars desc, id
    asc) instead of the min id (llm_ops.dedup.minhash_dedup_keep_best).  The
    corpus pairs every doc with a longer appended-suffix near-dup under a
    HIGHER id, so keep-best must select the shifted copies — the opposite
    answer to min-id dedup on the same corpus."""
    from fineo_readerator_spark.llm_ops.dedup import minhash_dedup_keep_best

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    longer = docs.select(
        (F.col("doc_id") + _SHIFT).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended marker tokens")).alias("text"),
        (F.col("n_chars") + 23).alias("n_chars"),
    )
    corpus = docs.unionByName(longer)
    return minhash_dedup_keep_best(corpus, "doc_id", "n_chars", "text").select(
        "doc_id", "n_chars"
    )


def _d_best_rep_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import (
        minhash_dedup_keep_best_oracle,
    )

    corpus = f"""SELECT doc_id, text, n_chars FROM documents
UNION ALL
SELECT doc_id + {_SHIFT}, text || ' appended marker tokens', n_chars + 23 FROM documents"""
    return minhash_dedup_keep_best_oracle(corpus, "r.n_chars")


def d_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup cluster map over the doubled corpus: every row —
    including exact-dup members collapsed by the cascade — labeled with its
    cluster id (llm_ops.dedup.minhash_cluster_labels)."""
    from fineo_readerator_spark.llm_ops.dedup import minhash_cluster_labels

    return minhash_cluster_labels(_docs_with_dups(spark, sf_dir), "doc_id")


def _d_dup_clusters_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup import minhash_cluster_labels_oracle

    corpus = f"""SELECT doc_id, text, n_chars FROM documents
UNION ALL SELECT doc_id + {_SHIFT}, text, n_chars FROM documents"""
    return minhash_cluster_labels_oracle(corpus)


def d_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster SIZE distribution over the doubled corpus — the
    dup-rate dashboard's headline histogram (how much of the corpus sits
    in 2-clusters vs mega-clusters decides the keep policy): every row's
    cluster id from the shared cascade, then two metadata-sized counts
    (clusters are ≤ corpus-sized, sizes a handful of rows)."""
    from fineo_readerator_spark.llm_ops.dedup import minhash_cluster_labels

    labels = minhash_cluster_labels(_docs_with_dups(spark, sf_dir), "doc_id")
    return (
        labels.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("size")
    )


def _d_cluster_sizes_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup import minhash_cluster_labels_oracle

    corpus = f"""SELECT doc_id, text, n_chars FROM documents
UNION ALL SELECT doc_id + {_SHIFT}, text, n_chars FROM documents"""
    return f"""
SELECT size, count(*) AS n_clusters FROM (
  SELECT cluster_id, count(*) AS size
  FROM ({minhash_cluster_labels_oracle(corpus)}) GROUP BY cluster_id
) GROUP BY size ORDER BY size
"""


def p_pref_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-margin preference pairs (llm_ops.sampling.preference_pairs):
    per (lang, source) "prompt" group, the best-scoring document (by
    n_chars, the stand-in integer quality score) paired against the worst
    — the reward-model / DPO prep shape.  One group-keyed exchange serves
    both rank windows; zero-margin groups drop."""
    from fineo_readerator_spark.llm_ops.sampling import preference_pairs

    return preference_pairs(
        load(spark, sf_dir, "documents"),
        ["lang", "source"],
        "doc_id",
        "n_chars",
        min_margin=1,
    ).orderBy("lang", "source")


def _p_pref_pairs_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import preference_pairs_oracle_sql

    return (
        preference_pairs_oracle_sql(
            "SELECT lang, source, doc_id, n_chars FROM documents",
            ["lang", "source"],
            "doc_id",
            "n_chars",
            min_margin=1,
        )
        + " ORDER BY lang, source"
    )


def p_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split over the doubled corpus
    (llm_ops.sampling.leakage_safe_split): the side hash is keyed on the
    near-dup CLUSTER id, so every exact twin (and near-dup) lands on the
    same side — the eval-contamination guard a row-hash split lacks."""
    from fineo_readerator_spark.llm_ops.sampling import leakage_safe_split

    out = leakage_safe_split(_docs_with_dups(spark, sf_dir), "doc_id")
    return out.select("doc_id", "cluster_id", "split")


def _p_leakage_split_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup import minhash_cluster_labels_oracle
    from fineo_readerator_spark.llm_ops.sampling import split_oracle_expr

    corpus = f"""SELECT doc_id, text, n_chars FROM documents
UNION ALL SELECT doc_id + {_SHIFT}, text, n_chars FROM documents"""
    labels = minhash_cluster_labels_oracle(corpus)
    return f"""
SELECT doc_id, cluster_id, {split_oracle_expr('cluster_id')} AS split
FROM ({labels})
"""


def d_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring overlap pairs: docs sharing >= 8 winnowed rolling-hash
    fingerprints, after dropping fingerprints with document frequency > 20
    (boilerplate + skew guard) — the verbatim-span dedup signal MinHash
    under-weights (llm_ops.dedup.span_overlap_pairs)."""
    from fineo_readerator_spark.llm_ops.dedup import span_overlap_pairs

    return span_overlap_pairs(load(spark, sf_dir, "documents"), "doc_id", "text")


def _span_overlap_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup import span_overlap_oracle_sql

    return span_overlap_oracle_sql("documents", "doc_id", "text")


def _minhash_store_path(sf_dir: str):
    from pathlib import Path

    repo = Path(__file__).resolve().parents[2]
    return repo / ".kv_cache" / Path(sf_dir.rstrip("/")).name / "minhash_store"


def ensure_minhash_store(spark: SparkSession, sf_dir: str) -> str:
    """Signature store for the base corpus (doc_id % 5 != 0), built once per
    corpus fingerprint — the persisted state the incremental path probes."""
    from fineo_readerator_spark.llm_ops.dedup import write_signature_store
    from fineo_readerator_spark.plans.registry import (
        snapshot_is_fresh,
        source_fingerprint,
        stamp_snapshot,
    )

    path = _minhash_store_path(sf_dir)
    fp = source_fingerprint(sf_dir, "documents")
    # meta-less = built before params were persisted with the store — rebuild
    if not snapshot_is_fresh(path, fp) or not (path / "_store_meta.json").exists():
        base = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 != 0)
        write_signature_store(base, str(path))
        stamp_snapshot(path, fp)
    return str(path)


def d_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: flag a delta batch (doc_id % 5 == 0) against the
    PERSISTED signature store of the rest of the corpus — signatures are
    computed for the delta only; the base contributes stored (band, id)
    rows to one equi-join and stored signatures onto the candidate set.
    The base corpus text is never rescanned (the 100 TB ingest shape)."""
    from fineo_readerator_spark.llm_ops.dedup import incremental_minhash_flags

    store = ensure_minhash_store(spark, sf_dir)
    delta = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return incremental_minhash_flags(store, delta)  # hash family from store meta


def _d_incremental_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup_oracles import incremental_flags_oracle

    return incremental_flags_oracle(
        "SELECT doc_id, text FROM documents", "doc_id % 5 = 0"
    )


def d_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup dedup — oracle-checked end to end like
    d_minhash_dedup."""
    out = simhash_dedup(_docs_with_dups(spark, sf_dir), "doc_id", "text", max_hamming=3)
    return out.select("doc_id", "n_chars")


def d_embed_lsh_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH bucketing (the scale path:
    self-join on the 8-bit signature bucket instead of label groups), exact
    cosine verification in-bucket.  Oracle inlines the same plane constants."""
    from fineo_readerator_spark.llm_ops.similarity import embedding_near_dup_pairs

    emb = load(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.2, n_planes=8, seed=42)


def _d_embed_lsh_oracle(dim: int = 64, n_planes: int = 8, seed: int = 42, threshold: float = 0.2) -> str:
    planes = _hyperplanes(dim, n_planes, seed)

    def sig(vec_expr: str) -> str:
        return _plane_sig_sql(vec_expr, planes, dim)

    return f"""
WITH s AS (SELECT vec_id, embedding, {sig('embedding')} AS sig FROM embeddings)
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(
           list_sum(list_transform(generate_series(1, {dim}),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           6) AS cos_sim
  FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
) WHERE cos_sim >= {threshold}
"""


def d_embed_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: corpus vectors (vec_id % 7 != 0)
    flagged against the benchmark set (vec_id % 7 == 0) by bucketed cosine
    — the eval side broadcasts, the corpus never shuffles
    (llm_ops.similarity.embedding_decontaminate)."""
    from fineo_readerator_spark.llm_ops.similarity import embedding_decontaminate

    emb = load(spark, sf_dir, "embeddings")
    return embedding_decontaminate(
        emb.filter(F.col("vec_id") % 7 != 0),
        emb.filter(F.col("vec_id") % 7 == 0),
        threshold=0.2,
    )


def _d_embed_decontaminate_oracle(
    dim: int = 64, n_planes: int = 8, seed: int = 42, threshold: float = 0.2
) -> str:
    planes = _hyperplanes(dim, n_planes, seed)

    def sig(vec_expr: str) -> str:
        return _plane_sig_sql(vec_expr, planes, dim)

    cos = (
        f"round(list_sum(list_transform(generate_series(1, {dim}),"
        " i -> CAST(c.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        "    * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
    )
    # rankability predicate mirrors embedding_decontaminate's guard (NULL /
    # wrong-dim / zero-norm vectors excluded from both sides)
    rankable = (
        f"embedding IS NOT NULL AND len(embedding) = {dim} AND "
        "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0"
    )
    return f"""
WITH c AS (SELECT vec_id, embedding, {sig('embedding')} AS sig FROM embeddings WHERE vec_id % 7 != 0 AND {rankable}),
e AS (SELECT embedding, {sig('embedding')} AS sig FROM embeddings WHERE vec_id % 7 = 0 AND {rankable}),
hits AS (
  SELECT vec_id, count(*) AS n_eval_hits, max(sim) AS best_sim
  FROM (SELECT c.vec_id, {cos} AS sim FROM c JOIN e ON c.sig = e.sig) sub
  WHERE sim >= {threshold}
  GROUP BY vec_id
)
SELECT c.vec_id, coalesce(n_eval_hits, 0) AS n_eval_hits, best_sim,
       n_eval_hits IS NOT NULL AS is_contaminated
FROM c LEFT JOIN hits ON c.vec_id = hits.vec_id
"""


_SAMPLE_FRACTIONS = {"en": 0.3, "de": 0.6, "fr": 0.6, "zh": 1.0}  # 'es' absent → dropped


def p_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed 80/10/10 split rolled up per (split, lang) — the
    carve is a row-local hash projection (llm_ops.sampling), so a doc
    keeps its split under repartitioning, retries and corpus growth."""
    from fineo_readerator_spark.llm_ops.sampling import train_val_test_split

    docs = train_val_test_split(load(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.groupBy("split", "lang")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("n_chars").cast("long").alias("total_chars"))
        .orderBy("split", "lang")
    )


def _p_split_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import split_oracle_expr

    return f"""
SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (SELECT {split_oracle_expr('doc_id')} AS split, lang, n_chars FROM documents)
GROUP BY split, lang ORDER BY split, lang
"""


def p_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling: downsample the dominant
    language, keep the tail, drop strata not listed.  Hash-keyed, so the kept
    set is reproducible across partitionings, retries and engines."""
    from fineo_readerator_spark.llm_ops.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", _SAMPLE_FRACTIONS, "doc_id").select(
        "doc_id", "lang", "n_chars"
    )


def _p_doc_sample_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import _BUCKETS, sample_oracle_bucket

    case = (
        "CASE lang "
        + " ".join(
            f"WHEN '{s}' THEN {int(f * _BUCKETS)}" for s, f in sorted(_SAMPLE_FRACTIONS.items())
        )
        + " ELSE 0 END"
    )
    return f"SELECT doc_id, lang, n_chars FROM documents WHERE {sample_oracle_bucket('doc_id')} < {case}"


def t_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 word 3-grams by document frequency (each document's
    distinct shingles counted once) — corpus vocabulary statistics."""
    from fineo_readerator_spark.llm_ops.sampling import ngram_topk

    return ngram_topk(load(spark, sf_dir, "documents"), "text", n=3, k=20)


T_NGRAM_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                                i -> array_to_string(toks[i:i+2], ' ')))
              ELSE [array_to_string(toks, ' ')] END AS sh
  FROM t
)
SELECT ngram, count(*) AS cnt
FROM (SELECT unnest(sh) AS ngram FROM s)
GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20
"""


def e_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 most frequent event types per user (heavy-hitter shape:
    partial-agg count, then a window rank over the small count set)."""
    from fineo_readerator_spark.llm_ops.sampling import topk_frequent

    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    out = topk_frequent(ev, ["user_id"], "event_type", k=3)
    # rank as long on both sides (DuckDB row_number is BIGINT; the driver's
    # value hashing is type-representation-sensitive)
    return out.select("user_id", "event_type", "cnt", F.col("rank").cast("long").alias("rank"))


E_TOPK_ORACLE = """
SELECT user_id, event_type, cnt, rank FROM (
  SELECT user_id, event_type, count(*) AS cnt,
         row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type) AS rank
  FROM events GROUP BY user_id, event_type
) WHERE rank <= 3
"""


def t_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc average bigram log-likelihood under a corpus-trained LM —
    the CCNet-style perplexity bucket signal (llm_ops.textstats).  Trained
    on a capped top-V vocabulary (OOV → one UNK context) so the model
    tables are parameter-bounded; vocab_size=16 against the synthetic
    ~31-token corpus deliberately exercises the UNK path."""
    from fineo_readerator_spark.llm_ops.textstats import bigram_lm_scores

    docs = load(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "text", "doc_id", vocab_size=16)


def _t_bigram_lm_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import bigram_lm_oracle_sql

    return bigram_lm_oracle_sql("SELECT doc_id, text FROM documents", vocab_size=16)


def t_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition + shape signals and the pass/fail rule —
    one codegen'd projection, no shuffle (llm_ops.textstats)."""
    from fineo_readerator_spark.llm_ops.textstats import with_quality_signals

    docs = load(spark, sf_dir, "documents")
    return with_quality_signals(docs, "text").select(
        "doc_id", "n_words", "distinct_word_frac", "top_word_frac",
        "top_2gram_frac", "dup_2gram_frac", "mean_word_len", "gopher_pass",
    )


def _t_quality_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import quality_signals_oracle_sql

    sig = quality_signals_oracle_sql("SELECT doc_id, text FROM documents")
    return (
        "SELECT doc_id, n_words, distinct_word_frac, top_word_frac,"
        f" top_2gram_frac, dup_2gram_frac, mean_word_len, gopher_pass FROM ({sig})"
    )


def t_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 duplicate-paragraph repetition signals
    (llm_ops.textstats.with_repetition_signals): docs with doc_id % 5 == 0
    get their text DOUBLED so the corpus carries real block repeats for the
    dup-paragraph fractions to flag; everything keys on the doc id, so no
    cross-document work at all."""
    from fineo_readerator_spark.llm_ops.textstats import with_repetition_signals

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat_ws(" ", "text", "text")
        ).otherwise(F.col("text")).alias("text"),
    )
    return (
        with_repetition_signals(docs)
        .select("doc_id", "n_paras", "dup_para_frac", "dup_para_char_frac",
                "repetition_pass")
        .orderBy("doc_id")
    )


def _t_repetition_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import repetition_oracle_sql

    corpus = (
        "SELECT doc_id, CASE WHEN doc_id % 5 = 0"
        " THEN text || ' ' || text ELSE text END AS text FROM documents"
    )
    return repetition_oracle_sql(corpus)


_CLF_FEATURES = ["f1", "f2", "f3"]


def _clf_features(df):
    return df.withColumns(
        {
            "f1": F.least(F.col("n_tokens") * F.lit(1.0) / F.lit(50.0), F.lit(1.0)),
            "f2": F.col("punct_ratio"),
            "f3": F.least(F.col("avg_word_len") / F.lit(8.0), F.lit(1.0)),
        }
    )


def t_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the Gopher quality gate into a cheap linear scorer, trained
    IN-ENGINE (llm_ops.classifier): 3 rounds of full-batch logistic GD with
    gopher_pass as the label and three row-local shape features — each
    iteration is one keyless map-side-combined gradient aggregate (K+1
    numbers to the driver), then the trained weights score the corpus in a
    single codegen'd projection.  The whole run — training included — is
    oracle-checked against the unrolled SQL replay."""
    from fineo_readerator_spark.llm_ops.classifier import (
        score_logistic,
        train_logistic,
    )
    from fineo_readerator_spark.llm_ops.textstats import (
        with_quality_signals,
        with_text_stats,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    feats = _clf_features(with_quality_signals(with_text_stats(docs), "text"))
    w = train_logistic(feats, _CLF_FEATURES, "gopher_pass", n_iters=3, lr=1.0)
    return (
        score_logistic(feats, _CLF_FEATURES, w)
        .select("doc_id", "score", "pred")
        .orderBy("doc_id")
    )


def t_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the in-engine quality classifier
    (llm_ops.classifier.calibration_table): equal-width score bins ×
    (count, positives, half-up ppm positive rate) against the gopher_pass
    label — the eval that decides whether the 0.5 threshold means what it
    claims.  Composes the SAME oracle-checked training walk as
    t_quality_classifier; the binning floor runs on the identically-
    rounded score double."""
    from fineo_readerator_spark.llm_ops.classifier import (
        calibration_table,
        score_logistic,
        train_logistic,
    )
    from fineo_readerator_spark.llm_ops.textstats import (
        with_quality_signals,
        with_text_stats,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    feats = _clf_features(with_quality_signals(with_text_stats(docs), "text"))
    w = train_logistic(feats, _CLF_FEATURES, "gopher_pass", n_iters=3, lr=1.0)
    scored = score_logistic(feats, _CLF_FEATURES, w)
    return calibration_table(
        scored, score_col="score", label_col="gopher_pass", n_bins=10
    ).orderBy("bin")


def _t_calibration_oracle() -> str:
    from fineo_readerator_spark.llm_ops.classifier import (
        calibration_oracle_sql,
        logistic_oracle_sql,
    )
    from fineo_readerator_spark.llm_ops.textstats import (
        quality_signals_oracle_sql,
        text_stats_oracle_exprs,
    )

    sig = quality_signals_oracle_sql("SELECT doc_id, text FROM documents")
    feats = (
        f"SELECT doc_id, {text_stats_oracle_exprs('text')},"
        " n_words, distinct_word_frac, top_word_frac, top_2gram_frac,"
        f" dup_2gram_frac, mean_word_len, gopher_pass FROM ({sig})"
    )
    scored = logistic_oracle_sql(
        feats,
        [
            "least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)",
            "punct_ratio",
            "least(avg_word_len / 8.0, 1.0)",
        ],
        "gopher_pass",
        n_iters=3,
        lr=1.0,
        emit_label=True,
    )
    return calibration_oracle_sql(scored, "score", "y", n_bins=10) + " ORDER BY bin"


def _t_quality_classifier_oracle() -> str:
    from fineo_readerator_spark.llm_ops.classifier import logistic_oracle_sql
    from fineo_readerator_spark.llm_ops.textstats import (
        quality_signals_oracle_sql,
        text_stats_oracle_exprs,
    )

    sig = quality_signals_oracle_sql("SELECT doc_id, text FROM documents")
    feats = (
        f"SELECT doc_id, {text_stats_oracle_exprs('text')},"
        " n_words, distinct_word_frac, top_word_frac, top_2gram_frac,"
        f" dup_2gram_frac, mean_word_len, gopher_pass FROM ({sig})"
    )
    return logistic_oracle_sql(
        feats,
        [
            "least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)",
            "punct_ratio",
            "least(avg_word_len / 8.0, 1.0)",
        ],
        "gopher_pass",
        n_iters=3,
        lr=1.0,
    )


def t_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing: global regex redaction (email/URL/lexicon) with
    per-pattern pre-redaction match counts; JVM-side regex, row-local."""
    from fineo_readerator_spark.llm_ops.textstats import redact_text

    docs = load(spark, sf_dir, "documents")
    return redact_text(docs, "text").select(
        "doc_id", "n_redact_0", "n_redact_1", "n_redact_2", "redacted"
    )


def _t_redact_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import redact_oracle_exprs

    return f"SELECT doc_id, {redact_oracle_exprs('text')} FROM documents"


def a_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-user estimate over events — the
    deterministic cross-engine sketch (llm_ops.sketches); same two-level
    aggregation shape as ``approx_count_distinct`` but oracle-replayable."""
    from fineo_readerator_spark.llm_ops.sketches import hll_estimate

    ev = load(spark, sf_dir, "events").select(F.col("user_id").cast("string").alias("k"))
    return hll_estimate(ev, F.col("k"))


def _a_hll_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sketches import hll_oracle_sql

    return hll_oracle_sql("SELECT CAST(user_id AS VARCHAR) AS k FROM events", "k")


def a_hll_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct-user estimate by HLL register merge
    (llm_ops.sketches.hll_rolling) — the mergeability payoff: each output
    day folds the last 7 days' register state (≤128 longs/day) instead of
    re-shuffling 7 days of raw keys, the only rolling-distinct shape that
    survives 100 TB.  Register max is associative, so merge = bounded
    explode + (day, bucket) max re-agg + the shared finalize."""
    from fineo_readerator_spark.functions import epoch_millis
    from fineo_readerator_spark.llm_ops.sketches import hll_rolling

    ev = load(spark, sf_dir, "events")
    ev = ev.select(
        epoch_millis(ev, "ts").alias("ms"),
        F.col("user_id").cast("string").alias("k"),
    ).select(F.expr("ms div 86400000").alias("day"), "k")
    return hll_rolling(ev, F.col("k"), "day", window=7).orderBy("day")


def _a_hll_rolling_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sketches import hll_rolling_oracle_sql

    return (
        hll_rolling_oracle_sql(
            "SELECT epoch_ms(ts) // 86400000 AS day,"
            " CAST(user_id AS VARCHAR) AS k FROM events",
            "day",
            "k",
            window=7,
        )
        + " ORDER BY day"
    )


def a_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source K-minimum-values distinct-text estimate (llm_ops.
    sketches.kmv_distinct): the order-statistics distinct sketch — exact
    integer state (k smallest portable hashes per group), so the estimate
    is bit-reproducible and exact below k.  One hash+distinct pass plus a
    WindowGroupLimit top-k; the per-group estimator is one rounded
    division."""
    from fineo_readerator_spark.llm_ops.sketches import kmv_distinct

    docs = load(spark, sf_dir, "documents")
    return kmv_distinct(
        docs, F.col("text"), k=64, group_cols=("source",)
    ).orderBy("source")


def _a_kmv_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sketches import kmv_oracle_sql

    return kmv_oracle_sql(
        "SELECT source, text FROM documents", "text", k=64, group_col="source"
    )


def a_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-free cross-corpus overlap sizing (llm_ops.sketches.hll_overlap):
    how many distinct texts do the even-id and third-id document subsets
    share?  Inclusion–exclusion over mergeable HLL registers — two scans,
    ≤128 longs of state per side, no shuffle join; the sizing signal that
    gates whether the exact dedup join is worth running."""
    from fineo_readerator_spark.llm_ops.sketches import hll_overlap

    docs = load(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 3 == 0)
    return hll_overlap(a, F.col("text"), b, F.col("text"))


def _a_hll_overlap_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sketches import hll_overlap_oracle_sql

    return hll_overlap_oracle_sql(
        "SELECT text FROM documents WHERE doc_id % 2 = 0",
        "text",
        "SELECT text FROM documents WHERE doc_id % 3 = 0",
        "text",
    )


_PACK_BUDGET = 512


def p_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: per-source streaming fill of a
    512-token budget, then per-bin stats.  The window runs per source shard —
    the same parallelism a sharded corpus gives a real pipeline."""
    from fineo_readerator_spark.llm_ops.sampling import pack_sequences

    docs = with_text_stats(load(spark, sf_dir, "documents"), "text")
    packed = pack_sequences(docs, "doc_id", "n_tokens", _PACK_BUDGET, ["source"])
    return packed.groupBy("source", "bin_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )


P_PACK_ORACLE = rf"""
WITH toks AS (
  SELECT source, doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0)) AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM toks
)
SELECT source,
       CAST((prev - prev % {_PACK_BUDGET}) / {_PACK_BUDGET} AS BIGINT) AS bin_id,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
FROM packed GROUP BY 1, 2
"""


def p_stratified_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-3-docs-per-source eval carve: hash-ranked window sample,
    deterministic across partitionings/retries/engines."""
    from fineo_readerator_spark.llm_ops.sampling import stratified_fixed_k

    docs = load(spark, sf_dir, "documents")
    return stratified_fixed_k(docs, ["source"], "doc_id", k=3).select(
        "source", "doc_id", "sample_rank"
    )


def p_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without replacement, exactly 5 docs per
    language weighted by document length (llm_ops.sampling.
    weighted_stratified_k — Efraimidis–Spirakis keys over the portable
    md5 uniform; WindowGroupLimit bounds the exchange at k rows per
    stratum per mapper)."""
    from fineo_readerator_spark.llm_ops.sampling import weighted_stratified_k

    docs = load(spark, sf_dir, "documents")
    return (
        weighted_stratified_k(docs, ["lang"], "doc_id", "n_chars", k=5)
        .select("lang", "doc_id", "n_chars", "sample_rank")
        .orderBy("lang", "sample_rank")
    )


def _p_weighted_sample_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import weighted_k_oracle_key

    key = weighted_k_oracle_key("doc_id", "n_chars")
    return f"""
SELECT lang, doc_id, n_chars, sample_rank FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {key} DESC, doc_id) AS sample_rank
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
) WHERE sample_rank <= 5
"""


def p_dist_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-matching resample (llm_ops.sampling.
    distribution_match_sample): reshape the corpus's language mix to match
    an en/de-only target frame — per-bucket keep probability
    min(1, t_share/c_share) decided by ONE integer inequality on the
    portable hash (no float rounding boundary anywhere).  Languages absent
    from the target vanish; the kept mix approaches the target's."""
    from fineo_readerator_spark.llm_ops.sampling import distribution_match_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    target = docs.filter(F.col("lang").isin("en", "de"))
    kept = distribution_match_sample(docs, target, "lang", "doc_id")
    return (
        kept.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
        .orderBy("lang")
    )


def t_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document in clamped integer milli units
    (llm_ops.textstats.readability) — the classic readability gate next to
    the Gopher rules: vowel-group syllables, [.!?]-run sentences, one
    integer rational over the S·W denominator, clamped at 0 before the
    division so no engine divides a negative.  One codegen'd projection,
    no shuffle, no Python."""
    from fineo_readerator_spark.llm_ops.textstats import readability

    return readability(load(spark, sf_dir, "documents")).orderBy("doc_id")


def _t_readability_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import readability_oracle_sql

    return (
        readability_oracle_sql("SELECT doc_id, text FROM documents")
        + " ORDER BY doc_id"
    )


def t_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search "table hash" over documents (llm_ops.retrieval.
    phrase_search) — the positional-inverted-index walk BM25's
    bag-of-words scoring can't express, as a filtered postings frame +
    one consecutive-position join per extra term.  Postings for absent
    terms never shuffle; at 100 TB the postings frame persists
    term-bucketed and the per-query plan is a filtered scan + bounded
    joins."""
    from fineo_readerator_spark.llm_ops.retrieval import phrase_search

    return phrase_search(
        load(spark, sf_dir, "documents"), "table hash"
    ).orderBy("doc_id")


def _t_phrase_search_oracle() -> str:
    from fineo_readerator_spark.llm_ops.retrieval import phrase_search_oracle_sql

    return (
        phrase_search_oracle_sql(
            "SELECT doc_id, text FROM documents", "table hash"
        )
        + " ORDER BY doc_id"
    )


def p_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-n-gram importance selection (llm_ops.sampling.dsir_select —
    the deterministic core of DSIR): score every document by how
    English-corpus-typical its token distribution is, over md5-hashed
    unigram features with add-one smoothing, and keep the top 50.  The
    hashing BOUNDS the feature space, so the frequency-ratio table is ≤
    4096 rows by construction and its broadcast is safe at any corpus
    size — the exact opposite of an unhashed vocabulary join.  Pure
    integer ppm arithmetic; ranking tiebreaks on doc_id."""
    from fineo_readerator_spark.llm_ops.sampling import dsir_select

    docs = load(spark, sf_dir, "documents")
    raw = docs.select("doc_id", "text")
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    return dsir_select(raw, target, k=50).orderBy(F.desc("score_ppm"), "doc_id")


def _p_dsir_select_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import dsir_oracle_sql

    return dsir_oracle_sql(
        "SELECT doc_id, text FROM documents",
        "SELECT doc_id, text FROM documents WHERE lang = 'en'",
        k=50,
    )


def _p_dist_match_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import (
        distribution_match_oracle_predicate,
    )

    pred = distribution_match_oracle_predicate(
        "d.lang", "d.doc_id", "c.cn", "coalesce(t.tn, 0)", "ct.v", "tt.v"
    )
    return f"""
WITH corpus AS (SELECT doc_id, lang FROM documents),
tgt AS (SELECT lang FROM documents WHERE lang IN ('en', 'de')),
c AS (SELECT lang, count(*) AS cn FROM corpus GROUP BY lang),
t AS (SELECT lang, count(*) AS tn FROM tgt GROUP BY lang),
ct AS (SELECT sum(cn) AS v FROM c),
tt AS (SELECT sum(tn) AS v FROM t),
kept AS (
  SELECT d.lang FROM corpus d
  JOIN c ON d.lang IS NOT DISTINCT FROM c.lang
  LEFT JOIN t ON d.lang IS NOT DISTINCT FROM t.lang
  CROSS JOIN ct CROSS JOIN tt
  WHERE {pred}
)
SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang ORDER BY lang
"""


def p_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate (llm_ops.sampling.k_anonymize): rows whose
    (lang, length-bucket) quasi-identifier combination occurs < 5 times are
    suppressed before export — one group count null-safe-joined back, never
    a count window (a dominant group would drown one reducer)."""
    from fineo_readerator_spark.llm_ops.sampling import k_anonymize

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.floor(F.col("n_chars") / 10).alias("len_bucket")
    )
    return (
        k_anonymize(docs, ["lang", "len_bucket"], k=5)
        .select("doc_id", "lang", "len_bucket", "qi_group_n")
        .orderBy("doc_id")
    )


def _p_k_anonymize_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import k_anonymize_oracle_sql

    corpus = (
        "SELECT doc_id, lang, CAST(floor(n_chars / 10) AS BIGINT) AS len_bucket"
        " FROM documents"
    )
    return k_anonymize_oracle_sql(
        corpus, ["lang", "len_bucket"], ["doc_id", "lang", "len_bucket"], k=5
    )


def _p_stratified_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import sample_oracle_bucket

    return f"""
SELECT source, doc_id, sample_rank FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY {sample_oracle_bucket('doc_id')}, doc_id) AS sample_rank
  FROM documents
) WHERE sample_rank <= 3
"""


def b_bloom_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter blocklist probe: build a 1024-bit filter over the texts of
    a deterministic 'blocked' subset, probe every document map-side via a
    16-row broadcast — the sketch-based substitute for a shuffle semi-join."""
    from fineo_readerator_spark.llm_ops.sketches import bloom_build, bloom_probe

    docs = load(spark, sf_dir, "documents")
    blocked = docs.filter(F.col("doc_id") % 97 == 0).select(F.col("text"))
    bloom = bloom_build(blocked, F.col("text"))
    return bloom_probe(docs.select("doc_id", "text"), "doc_id", F.col("text"), bloom).select(
        "doc_id", "bloom_maybe"
    )


def _b_bloom_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sketches import bloom_oracle_sql

    return bloom_oracle_sql(
        "SELECT text AS k FROM documents WHERE doc_id % 97 = 0",
        "SELECT doc_id, text FROM documents",
        "doc_id",
        "text",
    )


def a_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of events.value via the fixed-bin histogram quantile
    sketch: #occupied-bins of mergeable state, no global sort (the
    quantile companion to the HLL/Bloom/Count-Min family)."""
    from fineo_readerator_spark.llm_ops.sketches import histogram_quantiles

    ev = load(spark, sf_dir, "events")
    return histogram_quantiles(ev, "value", width=25.0, quantiles=(0.5, 0.9, 0.99))


def a_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-exact quantile audit (llm_ops.sketches.
    quantile_sketch_audit): p50/p90/p99 histogram estimates beside the
    exact interpolated percentiles with the signed error — what the
    25-wide bins actually cost on this value distribution, measured
    before dashboards trust them."""
    from fineo_readerator_spark.llm_ops.sketches import quantile_sketch_audit

    ev = load(spark, sf_dir, "events")
    return quantile_sketch_audit(
        ev, "value", width=25.0, quantiles=(0.5, 0.9, 0.99)
    ).orderBy("q")


def _a_quantile_audit_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sketches import (
        quantile_sketch_audit_oracle_sql,
    )

    return (
        quantile_sketch_audit_oracle_sql(
            "SELECT value FROM events", "value", width=25.0,
            quantiles=(0.5, 0.9, 0.99),
        ).rstrip()
        # ordinal: a bare `q` is ambiguous to DuckDB's binder (both join
        # sides carry one)
        + "\nORDER BY 1"
    )


def _a_quantile_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sketches import histogram_quantiles_oracle_sql

    return histogram_quantiles_oracle_sql(
        "SELECT value FROM events", "value", width=25.0, quantiles=(0.5, 0.9, 0.99)
    )


def a_countmin_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for every event type: fixed 4x512
    counter state regardless of key cardinality, estimates joined against the
    exact counts to expose the (always >=) collision inflation."""
    from fineo_readerator_spark.llm_ops.sketches import countmin_build, countmin_estimate

    ev = load(spark, sf_dir, "events").select(F.col("event_type").cast("string").alias("k"))
    sketch = countmin_build(ev, F.col("k"))
    keys = ev.distinct()
    est = countmin_estimate(sketch, keys, "k")
    true = ev.groupBy("k").agg(F.count("*").cast("long").alias("true_count"))
    return est.join(true, "k")


def _a_countmin_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sketches import countmin_oracle_sql

    return countmin_oracle_sql("SELECT CAST(event_type AS VARCHAR) AS k FROM events", "k")


def d_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination scan: the 'benchmark' is a truncated copy
    (first 80% of tokens, shifted ids) of every 50th training doc, so each
    one MUST surface against its source — plus whatever organic fingerprint
    overlap exists.  Eval side broadcasts; the train corpus never shuffles."""
    from fineo_readerator_spark.llm_ops.textstats import contamination_pairs, tokens

    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    eval_df = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + _SHIFT).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.floor(F.size(toks) * 0.8).cast("int"))
        ).alias("text"),
    )
    return contamination_pairs(docs, eval_df, "doc_id", "text", min_shared=3)


def _d_decontaminate_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import contamination_oracle_sql

    toks = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> length(x) > 0)"
    eval_sql = (
        f"SELECT doc_id + {_SHIFT} AS doc_id,"
        f" array_to_string(({toks})[1:CAST(floor(len({toks}) * 0.8) AS INT)], ' ') AS text"
        " FROM documents WHERE doc_id % 50 = 0"
    )
    return contamination_oracle_sql(
        "SELECT doc_id, text FROM documents",
        eval_sql,
        "doc_id",
        "text",
        min_shared=3,
    )


def p_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token windows at stride 48 — context-window chunking, row-local and
    shuffle-free."""
    from fineo_readerator_spark.llm_ops.textstats import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=64, stride=48)


def _p_chunk_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import chunk_oracle_sql

    return chunk_oracle_sql(
        "SELECT doc_id, text FROM documents", "doc_id", "text", chunk_tokens=64, stride=48
    )


_MIX_WEIGHTS = {"src0": 0.3, "src1": 0.3, "src2": 0.2, "src3": 0.1, "src4": 0.1}
_MIX_TOTAL = 60


def p_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per source (llm_ops.sampling.
    temperature_weights, α=0.5): w_s ∝ √n_s — the multilingual-style
    reweighting that up-samples small domains; produces the weights
    p_domain_mix enforces.  One stratum-count agg + strata-sized
    arithmetic; sqrt is IEEE-exact so the walk is oracle-checked."""
    from fineo_readerator_spark.llm_ops.sampling import temperature_weights

    return temperature_weights(
        load(spark, sf_dir, "documents"), "source", alpha=0.5, target_total=10_000
    )


def _p_temperature_mix_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import temperature_weights_oracle_sql

    return temperature_weights_oracle_sql(
        "SELECT source FROM documents", "source", alpha=0.5, target_total=10_000
    )


def p_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training manifest (llm_ops.sampling.curriculum_schedule):
    hash-sharded docs ordered easy-first (quality score DESC) and
    round-robin-interleaved across sources within each shard.  One
    exchange on shard serves both windows; no corpus-wide sort."""
    from fineo_readerator_spark.llm_ops.sampling import curriculum_schedule
    from fineo_readerator_spark.llm_ops.textstats import with_text_stats

    docs = with_text_stats(load(spark, sf_dir, "documents"), "text")
    return curriculum_schedule(
        docs, "quality_score", "doc_id", "source", n_shards=8
    ).orderBy("shard", "pos")


def _p_curriculum_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import curriculum_oracle_sql
    from fineo_readerator_spark.llm_ops.textstats import quality_score_oracle_expr

    return curriculum_oracle_sql(
        "SELECT doc_id, source, text FROM documents",
        quality_score_oracle_expr("text"),
        n_shards=8,
    )


def p_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch allocation under a 10M-token budget with a 4-epoch
    cap (llm_ops.sampling.epoch_plan): equal quotas, least()-capped
    allocation, half-up milli-epochs and EXPLICIT shortfall — the
    data-constrained planning report.  One source aggregate; the report
    is mix-cardinality."""
    from fineo_readerator_spark.llm_ops.sampling import epoch_plan

    docs = with_text_stats(load(spark, sf_dir, "documents"), "text")
    return epoch_plan(
        docs, "source", "n_tokens", total_budget=10_000_000, max_epochs=4
    ).orderBy("source")


def _p_epoch_plan_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import epoch_plan_oracle_sql
    from fineo_readerator_spark.llm_ops.textstats import _stats_oracle_fragments

    n_tok = _stats_oracle_fragments("text")["n_tok"]
    return (
        epoch_plan_oracle_sql(
            f"SELECT source, {n_tok} AS n_tokens FROM documents",
            "source",
            "n_tokens",
            total_budget=10_000_000,
            max_epochs=4,
        ).rstrip()
        + "\nORDER BY source"
    )


def p_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain reweighting toward a target source mixture:
    hash-bucket membership, per-stratum counts joined as a broadcast."""
    from fineo_readerator_spark.llm_ops.sampling import domain_mix

    docs = load(spark, sf_dir, "documents")
    kept = domain_mix(docs, "source", "doc_id", _MIX_WEIGHTS, _MIX_TOTAL)
    return kept.select("source", "doc_id")


def _p_domain_mix_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import domain_mix_oracle_predicate

    pred = domain_mix_oracle_predicate("source", "doc_id", _MIX_WEIGHTS, _MIX_TOTAL)
    return f"""
WITH c AS (SELECT doc_id, source, count(*) OVER (PARTITION BY source) AS __n FROM documents)
SELECT source, doc_id FROM c WHERE {pred}
"""


# the filter-funnel gate pair: Spark Columns are built LAZILY (JVM-backed —
# they need a live SparkContext) while the DuckDB SQL twins are import-time
# strings; the two lists are kept side-by-side so the predicates cannot drift
from fineo_readerator_spark.llm_ops.textstats import PUNCT_CLASS as _PUNCT

_FUNNEL_TOKS_SQL = (
    "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> length(x) > 0))"
)
_FUNNEL_GATES_SQL = [
    ("min_chars", "n_chars >= 60"),
    ("min_tokens", f"{_FUNNEL_TOKS_SQL} >= 12"),
    ("lang_known", "lang IN ('en', 'de', 'fr', 'es')"),
    (
        "punct_ratio",
        f"(length(text) - length(regexp_replace(text, '{_PUNCT}', '', 'g'))) * 10 <= length(text)",
    ),
    (
        "has_stopword",
        "(contains(text, ' the ') OR contains(text, ' und ')"
        " OR contains(text, ' le ') OR contains(text, ' el '))",
    ),
]


def _funnel_gates_spark() -> list:
    from fineo_readerator_spark.llm_ops.textstats import PUNCT_CLASS, tokens

    text = F.col("text")
    ntok = F.size(tokens(text))
    npunct = F.length(text) - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    stop = (
        text.contains(" the ")
        | text.contains(" und ")
        | text.contains(" le ")
        | text.contains(" el ")
    )
    return [
        ("min_chars", F.col("n_chars") >= 60),
        ("min_tokens", ntok >= 12),
        ("lang_known", F.col("lang").isin("en", "de", "fr", "es")),
        ("punct_ratio", npunct * 10 <= F.length(text)),
        ("has_stopword", stop),
    ]


def t_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation filter-funnel report (llm_ops.textstats.quality_funnel):
    five ordered gates (length → tokens → language → punctuation →
    stopword), every dropped document attributed to its FIRST failing gate
    — one corpus scan, a ≤6-key aggregate, and the reached/dropped
    arithmetic on the gate-count frame."""
    from fineo_readerator_spark.llm_ops.textstats import quality_funnel

    return quality_funnel(load(spark, sf_dir, "documents"), _funnel_gates_spark())


def _t_filter_funnel_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import funnel_oracle_sql

    return funnel_oracle_sql("SELECT * FROM documents", _FUNNEL_GATES_SQL)


def t_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bigram type–token ratio (llm_ops.sampling.
    ngram_diversity): the slice-level diversity screen that collapses when
    templated/model-generated text floods a language — one (lang, ngram)
    hash agg, one exact-long division."""
    from fineo_readerator_spark.llm_ops.sampling import ngram_diversity

    return ngram_diversity(load(spark, sf_dir, "documents"))


def _t_ngram_diversity_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import ngram_diversity_oracle_sql

    return ngram_diversity_oracle_sql("SELECT lang, text FROM documents")


def t_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine BPE tokenizer training (llm_ops.tokenizer.bpe_merges):
    the first 3 learned merges over the corpus — per step one
    vocabulary-rows pair-count aggregate and a ONE-row driver collect;
    exact integer counts + total winner order make the whole training
    walk oracle-checked."""
    from fineo_readerator_spark.llm_ops.tokenizer import bpe_merges

    return bpe_merges(load(spark, sf_dir, "documents"), n_merges=3)


def _t_bpe_merges_oracle() -> str:
    from fineo_readerator_spark.llm_ops.tokenizer import bpe_merges_oracle_sql

    return bpe_merges_oracle_sql("SELECT text FROM documents", n_merges=3)


def t_pii_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII extraction (llm_ops.textstats.pii_extract): the row-per-match
    face of the scrubber over the same seeded corpus — (doc, kind, value,
    n) for the release audit that needs WHAT leaked, not just how much.
    One text scan; PII_PATTERNS shared verbatim with pii_scrub and the
    oracle."""
    from fineo_readerator_spark.llm_ops.textstats import pii_extract

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    synth = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 tel +1 555 010 "),
        (F.col("doc_id") % 10000).cast("string"),
    )
    seeded = docs.withColumn("text", F.concat_ws(" ", F.col("text"), synth))
    return pii_extract(seeded).orderBy("doc_id", "kind", "value")


def _t_pii_extract_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import pii_extract_oracle_sql

    seeded = (
        "SELECT doc_id, concat_ws(' ', text,"
        " 'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.'"
        " || CAST(doc_id % 256 AS VARCHAR) || '.7 tel +1 555 010 '"
        " || CAST(doc_id % 10000 AS VARCHAR)) AS text FROM documents"
    )
    return pii_extract_oracle_sql(seeded) + " ORDER BY doc_id, kind, value"


def t_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (llm_ops.textstats.collocations): top-20
    adjacent-token pairs by integer LIFT (the log-free monotone core of
    PMI) with min_count=3 — named entities / templated phrases surface,
    hapax pairs pruned before the vocabulary joins (which are NOT
    broadcast-hinted; the tfidf dfreq lesson)."""
    from fineo_readerator_spark.llm_ops.textstats import collocations

    return collocations(load(spark, sf_dir, "documents"), k=20, min_count=3)


def _t_collocations_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import collocations_oracle_sql

    return collocations_oracle_sql(
        "SELECT doc_id, text FROM documents", k=20, min_count=3
    )


def t_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (llm_ops.textstats.pii_scrub): redact emails / IPv4s /
    phone-like runs with typed placeholders + per-doc counts — the
    Dolma/RedPajama pre-release step.  The fixtures carry no organic PII,
    so a deterministic contact line derived from doc_id is appended first;
    every stage is a codegen'd row-local regex, shared verbatim with the
    oracle via PII_PATTERNS."""
    from fineo_readerator_spark.llm_ops.textstats import pii_scrub

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    synth = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 tel +1 555 010 "),
        (F.col("doc_id") % 10000).cast("string"),
    )
    seeded = docs.withColumn("text", F.concat_ws(" ", F.col("text"), synth))
    return (
        pii_scrub(seeded)
        .select("doc_id", "n_emails", "n_ipv4s", "n_phones", "scrubbed")
        .orderBy("doc_id")
    )


def _t_pii_scrub_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import pii_scrub_oracle_exprs

    synth = (
        "'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.'"
        " || CAST(doc_id % 256 AS VARCHAR) || '.7 tel +1 555 010 '"
        " || CAST(doc_id % 10000 AS VARCHAR)"
    )
    return f"""
WITH seeded AS (
  SELECT doc_id, concat_ws(' ', text, {synth}) AS text FROM documents
)
SELECT doc_id, {pii_scrub_oracle_exprs()} FROM seeded ORDER BY doc_id
"""


def t_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (llm_ops.tokenizer.bpe_fertility):
    train 4 BPE merges corpus-wide, encode, report tokens-per-word by
    lang — the vocabulary-fit metric; one tokenize pass, training and
    encoding both run over vocabulary rows only."""
    from fineo_readerator_spark.llm_ops.tokenizer import bpe_fertility

    return bpe_fertility(load(spark, sf_dir, "documents"), n_merges=4)


def _t_bpe_fertility_oracle() -> str:
    from fineo_readerator_spark.llm_ops.tokenizer import bpe_fertility_oracle_sql

    return bpe_fertility_oracle_sql("SELECT lang, text FROM documents", n_merges=4)


def t_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token budget under the learned BPE (llm_ops.tokenizer.
    bpe_doc_tokens): train 4 merges corpus-wide, encode each DISTINCT word
    once, join the vocabulary-sized length table back un-hinted — the
    sequence budget packing/truncation actually consumes, where whitespace
    counts under-estimate fragmenting languages."""
    from fineo_readerator_spark.llm_ops.tokenizer import bpe_doc_tokens

    return bpe_doc_tokens(
        load(spark, sf_dir, "documents"), n_merges=4
    ).orderBy("doc_id")


def _t_bpe_encode_oracle() -> str:
    from fineo_readerator_spark.llm_ops.tokenizer import bpe_doc_tokens_oracle_sql

    return (
        bpe_doc_tokens_oracle_sql("SELECT doc_id, text FROM documents", n_merges=4)
        + " ORDER BY doc_id"
    )


def t_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy (llm_ops.textstats.
    token_entropy): the gibberish/template pre-filter — one (doc, token)
    hash agg; 1e-12-rounded terms summed as exact decimal so the float walk
    is oracle-checkable."""
    from fineo_readerator_spark.llm_ops.textstats import token_entropy

    return token_entropy(load(spark, sf_dir, "documents")).orderBy("doc_id")


def _t_token_entropy_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import token_entropy_oracle_sql

    return token_entropy_oracle_sql("SELECT doc_id, text FROM documents")


def t_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty against the doc_id%10==0 reference
    slice (llm_ops.textstats.ngram_novelty): the continual-pretraining
    freshness gate — ppm of a document's distinct 3-grams the reference
    never saw, on the exact shingle/hash pass the dedup cascade uses.
    One hash-keyed anti-join; nothing broadcast."""
    from fineo_readerator_spark.llm_ops.textstats import ngram_novelty

    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    # ref is a pure row-subset of docs, so ref_pred carves the reference
    # grams out of the one shared shingle pass instead of re-hashing the
    # slice (r11: removed a second full-corpus-CPU shingle stage)
    return ngram_novelty(
        docs, ref, "doc_id", "text", ref_pred=F.col("__id") % 10 == 0,
    ).orderBy("doc_id")


def _t_ngram_novelty_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import ngram_novelty_oracle_sql

    return (
        ngram_novelty_oracle_sql(
            "SELECT doc_id, text FROM documents", "doc_id % 10 = 0"
        ).rstrip()
        + "\nORDER BY doc_id"
    )


def t_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing gate (llm_ops.textstats.code_detect): symbol
    milli-ratio + indented lines + bare keyword hits in exact integers,
    one codegen'd projection — decides which pipeline (code or prose) a
    crawl document enters before any expensive dedup runs on it."""
    from fineo_readerator_spark.llm_ops.textstats import code_detect

    return code_detect(load(spark, sf_dir, "documents")).orderBy("doc_id")


def _t_code_detect_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import code_detect_oracle_sql

    return (
        code_detect_oracle_sql("SELECT doc_id, text FROM documents").rstrip()
        + "\nORDER BY doc_id"
    )


def t_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf power-law fit (llm_ops.textstats.zipf_fit): OLS of
    ln(freq) on ln(rank) over the top-200 token frequencies — the
    vocabulary-health audit (natural text ≈ slope −1, templated slices
    flatter).  Nano-ln integer grid + exact decimal moments (the
    token_entropy float discipline); one corpus-sized token agg, then
    |sources|×200-sized math."""
    from fineo_readerator_spark.llm_ops.textstats import zipf_fit

    return zipf_fit(
        load(spark, sf_dir, "documents"), "source", "text", top_ranks=200
    ).orderBy("source")


def _t_zipf_fit_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import zipf_fit_oracle_sql

    return (
        zipf_fit_oracle_sql(
            "SELECT source, text FROM documents", "source", "text", top_ranks=200
        ).rstrip()
        + "\nORDER BY source"
    )


def d_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-domain boilerplate removal (llm_ops.dedup.boilerplate_strip):
    paragraphs appearing in ≥2 distinct documents AND ≥5% of their source's
    documents are template text, removed from EVERY document (no
    first-occurrence survivor — templates have no original); documents
    reassemble from what remains."""
    from fineo_readerator_spark.llm_ops.dedup import boilerplate_strip

    docs = load(spark, sf_dir, "documents")
    return boilerplate_strip(
        docs, "doc_id", "source", min_docs=2, min_share_pct=5
    ).orderBy("doc_id")


def _d_boilerplate_oracle() -> str:
    from fineo_readerator_spark.llm_ops.dedup import boilerplate_strip_oracle_sql

    return boilerplate_strip_oracle_sql(
        "SELECT doc_id, source, text FROM documents", min_docs=2, min_share_pct=5
    )


def t_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (llm_ops.retrieval.keyword_topk):
    integer-quantized idf, exact long scores, one WindowGroupLimit shuffle
    on the doc id — the topical tag domain-mix/curriculum buckets key on."""
    from fineo_readerator_spark.llm_ops.retrieval import keyword_topk

    docs = load(spark, sf_dir, "documents")
    return keyword_topk(docs, "doc_id", "text", k=3).orderBy("doc_id", "rank")


def _t_keywords_oracle() -> str:
    from fineo_readerator_spark.llm_ops.retrieval import keyword_topk_oracle_sql

    return keyword_topk_oracle_sql(
        "SELECT doc_id, text FROM documents", "doc_id", "text", k=3
    )


def p_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (llm_ops.sampling.span_corrupt): masked
    spans become <extra_id_k> sentinels in the input, sentinel+tokens in
    the target; mask bits are content-hashed (md5(id:pos) % 5 == 0) so the
    pair set is engine- and partitioning-stable and the oracle replays
    every sentinel."""
    from fineo_readerator_spark.llm_ops.sampling import span_corrupt

    docs = load(spark, sf_dir, "documents")
    return span_corrupt(docs, "doc_id", "text", mask_denom=5).orderBy("doc_id")


def _p_span_corrupt_oracle() -> str:
    from fineo_readerator_spark.llm_ops.sampling import span_corrupt_oracle_sql

    return span_corrupt_oracle_sql(
        "SELECT doc_id, text FROM documents", "doc_id", "text", mask_denom=5
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profiling report over orders (operators.audit.
    column_profile): null count, exact distinct count, native-typed
    min/max rendered as strings — the statistics a quality gate's
    thresholds are calibrated from.  ONE aggregate pass Spark-side
    (all columns fold into a single map-side-combined reduction + a
    row-local stack unpivot); the oracle pays a scan per column instead."""
    from fineo_readerator_spark.operators.audit import column_profile

    orders = load(spark, sf_dir, "orders")
    return column_profile(orders, "orders", _PROFILE_COLS).orderBy("col_name")


def _q_column_profile_oracle() -> str:
    from fineo_readerator_spark.operators.audit import column_profile_oracle_sql

    return (
        column_profile_oracle_sql("SELECT * FROM orders", "orders", _PROFILE_COLS)
        + "\nORDER BY col_name"
    )


def t_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (llm_ops.textstats.content_defined_chunks):
    split documents at tokens whose portable hash ≡ 0 (mod 8) — boundaries
    follow CONTENT, so edits re-chunk locally instead of shifting every
    fixed window (the FastCDC property; p_chunk_windows is the fixed-stride
    complement).  Entirely row-local: no shuffle, chunking rides the scan."""
    from fineo_readerator_spark.llm_ops.textstats import content_defined_chunks

    docs = load(spark, sf_dir, "documents")
    return content_defined_chunks(docs, "doc_id", "text", divisor=8).orderBy(
        "doc_id", "chunk_idx"
    )


def _t_cdc_chunks_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import cdc_chunks_oracle_sql

    return (
        cdc_chunks_oracle_sql("SELECT doc_id, text FROM documents", divisor=8).rstrip()
        + "\nORDER BY doc_id, chunk_idx"
    )


def d_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup over content-defined chunks (llm_ops.
    textstats.cdc_chunk_dedup): content-local boundaries make duplicated
    paragraphs land in identical chunks across documents, so ONE hash
    shuffle removes them from every copy — the composition t_cdc_chunks
    exists for."""
    from fineo_readerator_spark.llm_ops.textstats import cdc_chunk_dedup

    docs = load(spark, sf_dir, "documents")
    return cdc_chunk_dedup(docs, "doc_id", "text", divisor=8).orderBy(
        "doc_id", "chunk_idx"
    )


def _d_cdc_chunk_dedup_oracle() -> str:
    from fineo_readerator_spark.llm_ops.textstats import cdc_chunk_dedup_oracle_sql

    return (
        cdc_chunk_dedup_oracle_sql(
            "SELECT doc_id, text FROM documents", divisor=8
        ).rstrip()
        + "\nORDER BY doc_id, chunk_idx"
    )


def s_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by INTEGER int8 inner product to the vec_id=0 embedding
    (llm_ops.similarity.ann_int8_topk): corpus and query quantize against
    the same per-dimension scales, the score is an exact int64 dot of
    int8 values — the SIMD serving-tier arithmetic, with a ranking that
    is deterministic by construction (no float rounding convention
    anywhere past quantization)."""
    from fineo_readerator_spark.llm_ops.similarity import ann_int8_topk

    emb = load(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return ann_int8_topk(emb.filter(F.col("vec_id") != 0), qv, k=10, dim=64)


def _s_ann_int8_oracle() -> str:
    from fineo_readerator_spark.llm_ops.similarity import ann_int8_oracle_sql

    return ann_int8_oracle_sql(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id != 0",
        k=10,
        dim=64,
        query_arr_sql="(SELECT embedding FROM embeddings WHERE vec_id = 0)",
    )


def s_embed_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding corpus
    (llm_ops.similarity.quantize_embeddings_int8) with a per-vector
    max-abs reconstruction-error audit — the 4× storage cut an ANN tier
    takes, with the recall cost measured before any index builds on it.
    One dim-sized aggregate + a broadcast scales row; the corpus never
    shuffles.

    Registry face: the quantized vector is emitted as a CSV string
    (`qvec_csv`) rather than the `array<int>` the operator returns —
    container-typed outputs crash the driver's pandas canonicalizer
    (r9 verdict: `sort_values` cannot hash lists), so EVERY registry
    query's final schema must be scalar-only (the no-container gate in
    tests/test_registry.py enforces this).  Programmatic consumers call
    `quantize_embeddings_int8` directly and get the real array."""
    from fineo_readerator_spark.llm_ops.similarity import quantize_embeddings_int8

    emb = load(spark, sf_dir, "embeddings")
    q = quantize_embeddings_int8(emb, "vec_id", "embedding", dim=64)
    return q.select(
        "vec_id",
        F.array_join(
            F.transform("qvec", lambda x: x.cast("string")), ","
        ).alias("qvec_csv"),
        "max_abs_err",
    ).orderBy("vec_id")


def _s_embed_int8_oracle() -> str:
    from fineo_readerator_spark.llm_ops.similarity import quantize_int8_oracle_sql

    inner = quantize_int8_oracle_sql(
        "SELECT vec_id, embedding FROM embeddings", dim=64
    ).rstrip()
    return (
        "SELECT vec_id,\n"
        "       array_to_string(qvec, ',') AS qvec_csv,\n"
        "       max_abs_err\n"
        f"FROM ({inner})\n"
        "ORDER BY vec_id"
    )


LLM_QUERIES = [
    QueryDef("d_exact_dedup", d_exact_dedup, D_EXACT_ORACLE, bench=True),
    QueryDef("p_dataset_card", p_dataset_card, _p_dataset_card_oracle()),
    QueryDef("p_clean_corpus", p_clean_corpus, P_CLEAN_ORACLE, bench=True),
    QueryDef("t_text_stats", t_text_stats, T_STATS_ORACLE, bench=True),
    QueryDef("t_lang_id", t_lang_id, T_LANG_ORACLE),
    QueryDef("t_fingerprint", t_fingerprint, T_FP_ORACLE),
    QueryDef("t_winnow_fps", t_winnow_fps, T_WINNOW_ORACLE),
    QueryDef("d_ngram_jaccard", d_ngram_jaccard, D_JACCARD_ORACLE),
    QueryDef("d_containment", d_containment, _d_containment_oracle()),
    QueryDef("s_ann_topk", s_ann_topk, S_ANN_ORACLE, bench=True),
    QueryDef("s_ann_lsh", s_ann_lsh, _ann_lsh_oracle()),
    QueryDef("s_ann_ivf", s_ann_ivf, S_ANN_IVF_ORACLE),
    QueryDef("s_ann_ivf_pruned", s_ann_ivf_pruned, S_ANN_IVF_ORACLE, bench=True),
    QueryDef("s_ann_pq", s_ann_pq, _s_ann_pq_oracle(), bench=True),
    QueryDef("s_ann_filtered", s_ann_filtered, S_ANN_FILTERED_ORACLE),
    QueryDef("s_ann_batch", s_ann_batch, S_ANN_BATCH_ORACLE),
    QueryDef("s_mmr_rerank", s_mmr_rerank, _s_mmr_rerank_oracle(), bench=True),
    QueryDef("p_shard_export", p_shard_export, _p_shard_oracle()),
    QueryDef("p_pipeline_export", p_pipeline_export, _p_pipeline_export_oracle()),
    QueryDef("s_label_centroids", s_label_centroids, S_CENTROIDS_ORACLE),
    QueryDef("s_embed_drift", s_embed_drift, _s_embed_drift_oracle()),
    QueryDef("p_curriculum", p_curriculum, _p_curriculum_oracle()),
    QueryDef("mm_media_meta", mm_media_meta, MM_META_ORACLE),
    QueryDef("mm_byte_entropy", mm_byte_entropy, _mm_byte_entropy_oracle(), bench=True),
    QueryDef("mm_dedup", mm_dedup, MM_DEDUP_ORACLE),
    QueryDef("mm_near_dup", mm_near_dup, _mm_near_dup_oracle(), bench=True),
    QueryDef("mm_decode_features", mm_decode_features, _mm_decode_oracle()),
    QueryDef("mm_frame_sample", mm_frame_sample, MM_FRAMES_ORACLE),
    QueryDef("d_embed_dupes", d_embed_dupes, D_EMBED_ORACLE),
    QueryDef("d_semantic_dedup", d_semantic_dedup, _d_semantic_dedup_oracle(), bench=True),
    QueryDef("d_semantic_dedup_lsh", d_semantic_dedup_lsh, _d_semantic_dedup_lsh_oracle()),
    QueryDef(
        "d_semantic_dedup_layout", d_semantic_dedup_layout, _d_semantic_dedup_layout_oracle()
    ),
    QueryDef("d_embed_lsh_dupes", d_embed_lsh_dupes, _d_embed_lsh_oracle()),
    QueryDef("d_minhash_pairs", d_minhash_pairs, _minhash_pairs_oracle()),
    QueryDef("d_edit_verify", d_edit_verify, _d_edit_verify_oracle(), bench=True),
    QueryDef("d_cluster_purity", d_cluster_purity, _d_cluster_purity_oracle(), bench=True),
    QueryDef("d_dup_inflation", d_dup_inflation, _d_dup_inflation_oracle()),
    QueryDef("d_minhash_audit", d_minhash_audit, _d_minhash_audit_oracle()),
    QueryDef("d_cluster_sizes", d_cluster_sizes, _d_cluster_sizes_oracle()),
    QueryDef("d_minhash_dedup", d_minhash_dedup, _minhash_dedup_oracle(), bench=True),
    QueryDef("d_span_overlap", d_span_overlap, _span_overlap_oracle(), bench=True),
    QueryDef("d_embed_decontaminate", d_embed_decontaminate, _d_embed_decontaminate_oracle()),
    QueryDef("t_bm25_topk", t_bm25_topk, _bm25_oracle(), bench=True),
    QueryDef("t_hybrid_rrf", t_hybrid_rrf, _t_hybrid_rrf_oracle(), bench=True),
    QueryDef("s_ann_pq_rerank", s_ann_pq_rerank, _s_ann_pq_rerank_oracle()),
    QueryDef("p_corpus_diff", p_corpus_diff, _p_corpus_diff_oracle()),
    QueryDef("p_data_audit", p_data_audit, _p_data_audit_oracle()),
    QueryDef("p_cdc_merge", p_cdc_merge, _p_cdc_merge_oracle()),
    QueryDef("p_quality_resample", p_quality_resample, _p_quality_resample_oracle()),
    QueryDef("t_normalize", t_normalize, _t_normalize_oracle()),
    QueryDef("d_dup_clusters", d_dup_clusters, _d_dup_clusters_oracle()),
    QueryDef("p_leakage_split", p_leakage_split, _p_leakage_split_oracle()),
    QueryDef("p_pref_pairs", p_pref_pairs, _p_pref_pairs_oracle()),
    QueryDef("d_paragraph_dedup", d_paragraph_dedup, _d_paragraph_dedup_oracle(), bench=True),
    QueryDef("d_best_rep_dedup", d_best_rep_dedup, _d_best_rep_oracle()),
    QueryDef("d_tfidf_pairs", d_tfidf_pairs, _d_tfidf_pairs_oracle(), bench=True),
    QueryDef("s_knn_graph", s_knn_graph, _s_knn_graph_oracle(), bench=True),
    QueryDef("s_kmeans", s_kmeans, _s_kmeans_oracle(), bench=True),
    QueryDef("s_ann_ivf_kmeans", s_ann_ivf_kmeans, _s_ann_ivf_kmeans_oracle()),
    QueryDef("s_cluster_quality", s_cluster_quality, _s_cluster_quality_oracle()),
    QueryDef("s_knn_multiprobe", s_knn_multiprobe, _s_knn_graph_oracle(n_probe=2)),
    QueryDef("s_knn_graph_lsh", s_knn_graph_lsh, _s_knn_graph_lsh_oracle()),
    QueryDef("s_ann_ivf_append", s_ann_ivf_append, S_ANN_IVF_APPEND_ORACLE),
    QueryDef("s_hard_negatives", s_hard_negatives, _s_knn_graph_oracle(neg_labels=True)),
    QueryDef("s_label_propagation", s_label_propagation, _s_label_propagation_oracle()),
    QueryDef("s_pagerank", s_pagerank, _s_pagerank_oracle()),
    QueryDef("s_graph_layout", s_graph_layout, _s_pagerank_oracle()),
    QueryDef("s_label_prop_layout", s_label_prop_layout, _s_label_propagation_oracle(), bench=True),
    QueryDef("s_graph_triangles", s_graph_triangles, _s_graph_triangles_oracle(), bench=True),
    QueryDef("s_ppr_layout", s_ppr_layout, _s_ppr_layout_oracle(), bench=True),
    QueryDef("s_graph_degrees", s_graph_degrees, _s_graph_degrees_oracle()),
    QueryDef("s_kcore_layout", s_kcore_layout, _s_kcore_layout_oracle(), bench=True),
    QueryDef("s_jaccard_neighbors", s_jaccard_neighbors, _s_jaccard_neighbors_oracle()),
    QueryDef("s_top_direction", s_top_direction, _s_top_direction_oracle(), bench=True),
    QueryDef("s_recall_audit", s_recall_audit, _s_recall_audit_oracle()),
    QueryDef("s_rank_eval", s_rank_eval, _s_rank_eval_oracle()),
    QueryDef("t_filter_funnel", t_filter_funnel, _t_filter_funnel_oracle()),
    QueryDef("d_boilerplate", d_boilerplate, _d_boilerplate_oracle()),
    QueryDef("t_ngram_diversity", t_ngram_diversity, _t_ngram_diversity_oracle()),
    QueryDef("t_token_entropy", t_token_entropy, _t_token_entropy_oracle()),
    QueryDef("t_zipf_fit", t_zipf_fit, _t_zipf_fit_oracle()),
    QueryDef("t_code_detect", t_code_detect, _t_code_detect_oracle(), bench=True),
    QueryDef("t_ngram_novelty", t_ngram_novelty, _t_ngram_novelty_oracle(), bench=True),
    QueryDef("t_bpe_merges", t_bpe_merges, _t_bpe_merges_oracle()),
    QueryDef("t_pii_scrub", t_pii_scrub, _t_pii_scrub_oracle()),
    QueryDef("t_pii_extract", t_pii_extract, _t_pii_extract_oracle()),
    QueryDef("t_collocations", t_collocations, _t_collocations_oracle()),
    QueryDef("t_bpe_fertility", t_bpe_fertility, _t_bpe_fertility_oracle()),
    QueryDef("t_bpe_encode", t_bpe_encode, _t_bpe_encode_oracle(), bench=True),
    QueryDef("p_corpus_drift", p_corpus_drift, _p_corpus_drift_oracle(), bench=True),
    QueryDef("d_incremental_dedup", d_incremental_dedup, _d_incremental_oracle(), bench=True),
    QueryDef("d_simhash_dedup", d_simhash_dedup, _simhash_dedup_oracle(), bench=True),
    QueryDef("p_doc_sample", p_doc_sample, _p_doc_sample_oracle()),
    QueryDef("p_train_val_test", p_train_val_test, _p_split_oracle()),
    QueryDef("t_ngram_topk", t_ngram_topk, T_NGRAM_ORACLE, bench=True),
    QueryDef("e_topk_events", e_topk_events, E_TOPK_ORACLE),
    QueryDef("t_bigram_lm", t_bigram_lm, _t_bigram_lm_oracle()),
    QueryDef("t_quality_gopher", t_quality_gopher, _t_quality_oracle(), bench=True),
    QueryDef("t_readability", t_readability, _t_readability_oracle()),
    QueryDef("t_repetition", t_repetition, _t_repetition_oracle()),
    QueryDef("t_quality_classifier", t_quality_classifier, _t_quality_classifier_oracle()),
    QueryDef("t_calibration", t_calibration, _t_calibration_oracle()),
    QueryDef("t_redact", t_redact, _t_redact_oracle()),
    QueryDef("a_hll_distinct", a_hll_distinct, _a_hll_oracle()),
    QueryDef("a_hll_rolling", a_hll_rolling, _a_hll_rolling_oracle()),
    QueryDef("a_kmv_distinct", a_kmv_distinct, _a_kmv_oracle()),
    QueryDef("a_hll_overlap", a_hll_overlap, _a_hll_overlap_oracle()),
    QueryDef("p_seq_pack", p_seq_pack, P_PACK_ORACLE),
    QueryDef("p_stratified_k", p_stratified_k, _p_stratified_oracle()),
    QueryDef("p_weighted_sample", p_weighted_sample, _p_weighted_sample_oracle()),
    QueryDef("p_k_anonymize", p_k_anonymize, _p_k_anonymize_oracle()),
    QueryDef("p_dist_match", p_dist_match, _p_dist_match_oracle()),
    QueryDef("p_dsir_select", p_dsir_select, _p_dsir_select_oracle(), bench=True),
    QueryDef("t_phrase_search", t_phrase_search, _t_phrase_search_oracle()),
    QueryDef("b_bloom_blocklist", b_bloom_blocklist, _b_bloom_oracle()),
    QueryDef("a_countmin_hh", a_countmin_hh, _a_countmin_oracle()),
    QueryDef("a_quantile_hist", a_quantile_hist, _a_quantile_oracle()),
    QueryDef("a_quantile_audit", a_quantile_audit, _a_quantile_audit_oracle()),
    QueryDef("d_decontaminate", d_decontaminate, _d_decontaminate_oracle(), bench=True),
    QueryDef("p_chunk_windows", p_chunk_windows, _p_chunk_oracle()),
    QueryDef("p_domain_mix", p_domain_mix, _p_domain_mix_oracle()),
    QueryDef("p_epoch_plan", p_epoch_plan, _p_epoch_plan_oracle()),
    QueryDef("p_temperature_mix", p_temperature_mix, _p_temperature_mix_oracle()),
    QueryDef("t_keywords", t_keywords, _t_keywords_oracle()),
    QueryDef("p_span_corrupt", p_span_corrupt, _p_span_corrupt_oracle()),
    QueryDef("t_cdc_chunks", t_cdc_chunks, _t_cdc_chunks_oracle()),
    QueryDef("s_embed_int8", s_embed_int8, _s_embed_int8_oracle()),
    QueryDef("q_column_profile", q_column_profile, _q_column_profile_oracle()),
    QueryDef("d_cdc_chunk_dedup", d_cdc_chunk_dedup, _d_cdc_chunk_dedup_oracle()),
    QueryDef("s_ann_int8", s_ann_int8, _s_ann_int8_oracle()),
]
