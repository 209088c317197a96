"""Text analysis: tokenization stats, quality scoring, language ID,
document fingerprinting.

All pure Catalyst expressions (no Python UDFs): at 100 TB these run inside
whole-stage codegen as a single projection over the scan — zero shuffles,
perfectly parallel.  Every formula is also expressible in ANSI SQL so the
DuckDB oracle can replay it exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# whitespace tokens, empties dropped (leading/trailing-safe on both engines)
_WS = r"\s+"
# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_CLASS = r"[.,!?;:]"

# tiny per-language stopword markers for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " la "],
    "es": [" el ", " y ", " de la "],
}


def tokens(col: Column) -> Column:
    return F.filter(F.split(F.trim(col), _WS), lambda t: F.length(t) > 0)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append token/char/punctuation statistics and a quality score.

    The quality score is a deterministic [0,1] blend of length, punctuation
    and word-shape signals (the usual cheap pre-filters an LLM data pipeline
    applies before expensive dedup)."""
    c = F.col(text_col)
    toks = tokens(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))
    # ratios stay UNROUNDED doubles: both engines divide the same exact
    # integers with the same expression shape, so the bits match; rounding
    # would reintroduce half-way divergence between round() implementations
    avg_wl = F.when(n_tok > 0, (F.length(F.concat_ws("", toks)) * F.lit(1.0)) / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct * F.lit(1.0) / n_chars).otherwise(F.lit(0.0))
    n_bpe = F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0))
    quality = (
        F.least(n_tok * F.lit(1.0) / 50.0, F.lit(1.0)) * 0.5
        + (F.lit(1.0) - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.3
        + F.least(avg_wl / 8.0, F.lit(1.0)) * 0.2
    )
    return df.withColumns(
        {
            # counts as int64: DuckDB len()/length() are BIGINT and the
            # driver's value hashing is type-representation-sensitive
            "n_tokens": n_tok.cast("long"),
            "n_bpe_tokens": n_bpe.cast("long"),
            "n_punct": n_punct.cast("long"),
            "punct_ratio": punct_ratio,
            "avg_word_len": avg_wl,
            "quality_score": quality,
        }
    )


def _stats_oracle_fragments(text_col: str) -> dict[str, str]:
    """The shared DuckDB twins of :func:`with_text_stats`' building blocks
    — single definition so the quality blend and the reported stats
    columns can never desynchronize."""
    t = text_col
    toks = f"list_filter(regexp_split_to_array(trim({t}), '\\s+'), x -> length(x) > 0)"
    n_tok = f"len({toks})"
    n_chars = f"length({t})"
    n_punct = f"(length({t}) - length(regexp_replace({t}, '[.,!?;:]', '', 'g')))"
    avg_wl = (
        f"CASE WHEN {n_tok} > 0 THEN length(list_aggregate({toks}, 'string_agg', '')) * 1.0"
        f" / {n_tok} ELSE 0.0 END"
    )
    punct_ratio = f"CASE WHEN {n_chars} > 0 THEN {n_punct} * 1.0 / {n_chars} ELSE 0.0 END"
    return {
        "toks": toks,
        "n_tok": n_tok,
        "n_chars": n_chars,
        "n_punct": n_punct,
        "avg_wl": avg_wl,
        "punct_ratio": punct_ratio,
    }


def quality_score_oracle_expr(text_col: str = "text") -> str:
    """The quality-score blend alone as a DuckDB scalar expression — for
    consumers that order/filter by quality without materializing the full
    stats row (curriculum scheduling, resampling)."""
    f = _stats_oracle_fragments(text_col)
    return (
        f"(least({f['n_tok']} * 1.0 / 50.0, 1.0) * 0.5"
        f" + (1.0 - least({f['punct_ratio']} * 5.0, 1.0)) * 0.3"
        f" + least({f['avg_wl']} / 8.0, 1.0) * 0.2)"
    )


def text_stats_oracle_exprs(text_col: str = "text") -> str:
    """The same stats as DuckDB SQL (kept textually adjacent to the Spark
    build so the two formulas evolve together)."""
    t = text_col
    frags = _stats_oracle_fragments(text_col)
    n_tok = frags["n_tok"]
    n_punct = frags["n_punct"]
    avg_wl = frags["avg_wl"]
    punct_ratio = frags["punct_ratio"]
    n_bpe = f"len(regexp_extract_all({t}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"
    quality = quality_score_oracle_expr(text_col)
    return (
        f"{n_tok} AS n_tokens, {n_bpe} AS n_bpe_tokens, {n_punct} AS n_punct, "
        f"{punct_ratio} AS punct_ratio, {avg_wl} AS avg_word_len, {quality} AS quality_score"
    )


def with_quality_signals(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher/C4-style repetition and shape signals plus a pass/fail rule.

    Shape: explode tokens (and 2-grams) → count per (doc, term) → fold to
    per-doc stats — every aggregate runs in whole-stage codegen with map-side
    partial aggregation, so the shuffle carries (doc, distinct-term) counts,
    not raw tokens.  The row-local alternative (nested ``transform``/
    ``filter`` lambdas over the token array) evaluates interpreted and
    rebuilds arrays per distinct term — O(|doc|²) slow-path work per row —
    so the exploded shape wins by orders of magnitude at any scale.

    Signals (ratios stay unrounded doubles — same convention as
    ``with_text_stats``: both engines divide identical integers):
    - distinct_word_frac: |distinct words| / |words|
    - top_word_frac: occurrences of the most frequent word / |words|
    - top_2gram_frac: occurrences of the most frequent word 2-gram / |2-grams|
    - dup_2gram_frac: fraction of 2-gram slots occupied by repeats
    - mean_word_len
    - gopher_pass: the thresholded rule blend (a stand-in for the published
      Gopher rules; thresholds are config, the shape is the operator)
    """
    from fineo_readerator_spark.llm_ops.dedup import _spread

    base = _spread(df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")))
    # ONE tokenize + explode pass for both term kinds (word=0, 2-gram=1):
    # the two-chain formulation scanned and tokenized the corpus twice and
    # shuffled four times; tagging terms with their kind folds that into one
    # (id, kind, term) count + one per-doc aggregate.  The counts are the
    # same integers either way, so every downstream ratio (and the oracle)
    # is unchanged.
    # zip_with over shifted slices, NOT transform-over-sequence: see
    # dedup.shingles for why captured-expression lambdas are O(n²) per row
    btoks = tokens(F.col("__text"))
    m = F.greatest(F.size(btoks) - 1, F.lit(0))
    g2_arr = F.zip_with(
        F.slice(btoks, 1, m), F.slice(btoks, 2, m), lambda a, b: F.concat_ws(" ", a, b)
    )
    tagged = F.concat(
        F.transform(btoks, lambda t: F.struct(F.lit(0).alias("k"), t.alias("t"))),
        F.transform(g2_arr, lambda g: F.struct(F.lit(1).alias("k"), g.alias("t"))),
    )
    counts = (
        base.select("__id", F.explode(tagged).alias("kt"))
        .select("__id", F.col("kt.k").alias("k"), F.col("kt.t").alias("t"))
        .groupBy("__id", "k", "t")
        .agg(F.count("*").alias("c"))
    )
    is_w = F.col("k") == 0
    is_g = F.col("k") == 1
    stats_agg = counts.groupBy("__id").agg(
        F.sum(F.when(is_w, F.col("c"))).alias("__n_tok"),
        F.count(F.when(is_w, F.lit(True))).alias("__n_distinct"),
        F.max(F.when(is_w, F.col("c"))).alias("__top_word"),
        F.sum(F.when(is_w, F.length("t") * F.col("c"))).alias("__total_wchars"),
        F.sum(F.when(is_g, F.col("c"))).alias("__n_g2"),
        F.count(F.when(is_g, F.lit(True))).alias("__d_g2"),
        F.max(F.when(is_g, F.col("c"))).alias("__top_g2"),
    )
    zero = F.lit(0.0)
    one = F.lit(1.0)
    nt = F.coalesce(F.col("__n_tok"), F.lit(0))
    ng = F.coalesce(F.col("__n_g2"), F.lit(0))
    distinct_frac = F.when(nt > 0, F.col("__n_distinct") * one / nt).otherwise(zero)
    top_word_frac = F.when(nt > 0, F.col("__top_word") * one / nt).otherwise(zero)
    top_2gram_frac = F.when(ng > 0, F.col("__top_g2") * one / ng).otherwise(zero)
    dup_2gram_frac = F.when(ng > 0, (ng - F.col("__d_g2")) * one / ng).otherwise(zero)
    mean_wl = F.when(nt > 0, F.col("__total_wchars") * one / nt).otherwise(zero)
    gopher_pass = (
        (nt >= 15)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (distinct_frac >= 0.2)
        & (top_word_frac <= 0.2)
        & (dup_2gram_frac <= 0.75)
    )
    stats = (
        stats_agg
        .withColumns(
            {
                "n_words": nt.cast("long"),
                "distinct_word_frac": distinct_frac,
                "top_word_frac": top_word_frac,
                "top_2gram_frac": top_2gram_frac,
                "dup_2gram_frac": dup_2gram_frac,
                "mean_word_len": mean_wl,
                "gopher_pass": gopher_pass,
            }
        )
        .select(
            "__id", "n_words", "distinct_word_frac", "top_word_frac",
            "top_2gram_frac", "dup_2gram_frac", "mean_word_len", "gopher_pass",
        )
    )
    joined = df.join(stats, df[id_col] == stats["__id"], "left").drop("__id")
    defaults = {
        "n_words": F.lit(0).cast("long"),
        "distinct_word_frac": zero,
        "top_word_frac": zero,
        "top_2gram_frac": zero,
        "dup_2gram_frac": zero,
        "mean_word_len": zero,
        "gopher_pass": F.lit(False),
    }
    return joined.withColumns(
        {name: F.coalesce(F.col(name), default) for name, default in defaults.items()}
    )


def quality_signals_oracle_exprs(text_col: str = "text") -> str:
    """The same signals as DuckDB SQL (kept adjacent so the formulas evolve
    together)."""
    t = text_col
    toks = f"list_filter(regexp_split_to_array(trim({t}), '\\s+'), x -> length(x) > 0)"
    n_tok = f"len({toks})"
    dw = f"list_distinct({toks})"
    distinct_frac = f"CASE WHEN {n_tok} > 0 THEN len({dw}) * 1.0 / {n_tok} ELSE 0.0 END"
    top_word = f"list_max(list_transform({dw}, g -> len(list_filter({toks}, x -> x = g))))"
    top_word_frac = f"CASE WHEN {n_tok} > 0 THEN {top_word} * 1.0 / {n_tok} ELSE 0.0 END"
    g2 = (
        f"CASE WHEN {n_tok} >= 2 THEN list_transform(generate_series(1, {n_tok} - 1),"
        f" i -> array_to_string(({toks})[i:i+1], ' ')) ELSE [] END"
    )
    n_g2 = f"len({g2})"
    dg2 = f"list_distinct({g2})"
    top_g2 = f"list_max(list_transform({dg2}, g -> len(list_filter({g2}, x -> x = g))))"
    top_2gram_frac = f"CASE WHEN {n_g2} > 0 THEN {top_g2} * 1.0 / {n_g2} ELSE 0.0 END"
    dup_2gram_frac = f"CASE WHEN {n_g2} > 0 THEN ({n_g2} - len({dg2})) * 1.0 / {n_g2} ELSE 0.0 END"
    mean_wl = (
        f"CASE WHEN {n_tok} > 0 THEN length(list_aggregate({toks}, 'string_agg', '')) * 1.0"
        f" / {n_tok} ELSE 0.0 END"
    )
    gopher = (
        f"({n_tok} >= 15 AND ({mean_wl}) >= 3.0 AND ({mean_wl}) <= 10.0"
        f" AND ({distinct_frac}) >= 0.2 AND ({top_word_frac}) <= 0.2"
        f" AND ({dup_2gram_frac}) <= 0.75)"
    )
    return (
        f"coalesce(CAST({n_tok} AS BIGINT), 0) AS n_words, {distinct_frac} AS distinct_word_frac, "
        f"{top_word_frac} AS top_word_frac, {top_2gram_frac} AS top_2gram_frac, "
        f"{dup_2gram_frac} AS dup_2gram_frac, {mean_wl} AS mean_word_len, "
        f"{gopher} AS gopher_pass"
    )


def quality_signals_oracle_sql(
    source_sql: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Relational DuckDB replay of :func:`with_quality_signals`: every
    source column passes through plus the seven signal columns.

    This exists because the inline-lambda twin
    (:func:`quality_signals_oracle_exprs`) computes top-word/top-bigram
    via ``list_max(list_transform(distinct, g -> len(list_filter(...))))``
    — O(N·V) per document with the tokenizer re-inlined in every fragment
    (DuckDB does not CSE across lambdas), which measured ~47 s for 500
    docs and scales with the square of document length.  The relational
    shape (unnest → per-(doc, gram) count → per-doc max) is linear and
    ~50x faster; the arithmetic leaves (same integer counts, same ``*
    1.0 /`` divisions, same guards) are identical, so results are
    bit-equal.  ``source_sql`` must expose a unique ``id_col``."""
    toks = (
        f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'),"
        " x -> length(x) > 0)"
    )
    d_frac = "CASE WHEN __n > 0 THEN __nd * 1.0 / __n ELSE 0.0 END"
    tw_frac = "CASE WHEN __n > 0 THEN __topw * 1.0 / __n ELSE 0.0 END"
    tg_frac = "CASE WHEN coalesce(__ng, 0) > 0 THEN __topg * 1.0 / __ng ELSE 0.0 END"
    dg_frac = (
        "CASE WHEN coalesce(__ng, 0) > 0 THEN (__ng - __ndg) * 1.0 / __ng"
        " ELSE 0.0 END"
    )
    mean_wl = "CASE WHEN __n > 0 THEN __chars * 1.0 / __n ELSE 0.0 END"
    gopher = (
        f"(__n >= 15 AND ({mean_wl}) >= 3.0 AND ({mean_wl}) <= 10.0"
        f" AND ({d_frac}) >= 0.2 AND ({tw_frac}) <= 0.2"
        f" AND ({dg_frac}) <= 0.75)"
    )
    return f"""
WITH __d AS (SELECT *, {toks} AS __toks FROM ({source_sql})),
__b AS (SELECT *, len(__toks) AS __n,
               length(list_aggregate(__toks, 'string_agg', '')) AS __chars
        FROM __d),
__wc AS (SELECT {id_col}, w, count(*) AS c
         FROM (SELECT {id_col}, unnest(__toks) AS w FROM __d) GROUP BY 1, 2),
__ws AS (SELECT {id_col}, count(*) AS __nd, max(c) AS __topw FROM __wc GROUP BY 1),
__g AS (SELECT {id_col}, __toks[i] || ' ' || __toks[i + 1] AS g
        FROM __b, unnest(generate_series(1, __n - 1)) u(i) WHERE __n >= 2),
__gc AS (SELECT {id_col}, g, count(*) AS c FROM __g GROUP BY 1, 2),
__gs AS (SELECT {id_col}, sum(c) AS __ng, count(*) AS __ndg, max(c) AS __topg
         FROM __gc GROUP BY 1)
SELECT __b.* EXCLUDE (__toks, __n, __chars),
       coalesce(CAST(__n AS BIGINT), 0) AS n_words,
       {d_frac} AS distinct_word_frac,
       {tw_frac} AS top_word_frac,
       {tg_frac} AS top_2gram_frac,
       {dg_frac} AS dup_2gram_frac,
       {mean_wl} AS mean_word_len,
       {gopher} AS gopher_pass
FROM __b LEFT JOIN __ws USING ({id_col}) LEFT JOIN __gs USING ({id_col})"""


def with_repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_tokens: int = 15,
) -> DataFrame:
    """Gopher §A1.1 duplicate-PARAGRAPH repetition signals — the
    within-document complement of ``with_quality_signals`` (which covers
    word/2-gram repetition): the fraction of paragraph slots occupied by
    repeats and the fraction of paragraph CHARACTERS inside those repeats,
    plus the published pass rule (dup-paragraph fraction ≤ 0.30,
    dup-paragraph-char fraction ≤ 0.20).  Boilerplate-heavy pages repeat
    whole blocks verbatim, which word-level stats dilute away.

    Paragraph boundary: consecutive ``para_tokens``-token windows — the
    same convention as :func:`~fineo_readerator_spark.llm_ops.dedup.
    paragraph_dedup` (the fixtures carry no newline structure; real corpora
    feed their own splitter upstream).

    Scale shape: windowing is one codegen'd projection; one explode to
    (id, para) rows; then TWO map-side-combined hash aggregates — per
    (id, para) counts, folded to per-doc stats.  Everything is keyed by the
    doc id, so the shuffles are within-document-sized and the operator
    never compares across documents (no corpus-wide window, unlike
    paragraph_dedup's first-occurrence rule).  Ratios stay unrounded
    doubles: both engines divide identical exact integers."""
    from fineo_readerator_spark.llm_ops.dedup import paragraph_windows

    paras = paragraph_windows(text_col, para_tokens)
    per_para = (
        df.select(F.col(id_col).alias("__id"), paras.alias("__ps"))
        .filter(F.size("__ps") > 0)
        .select("__id", F.explode("__ps").alias("__para"))
        .filter(F.length("__para") > 0)
        .groupBy("__id", "__para")
        .agg(F.count("*").alias("__c"))
    )
    plen = F.length("__para")
    stats = per_para.groupBy("__id").agg(
        F.sum("__c").cast("long").alias("n_paras"),
        F.count("*").alias("__n_distinct"),
        F.sum((F.col("__c") - 1) * plen).alias("__dup_chars"),
        F.sum(F.col("__c") * plen).alias("__tot_chars"),
    )
    one = F.lit(1.0)
    dup_frac = (F.col("n_paras") - F.col("__n_distinct")) * one / F.col("n_paras")
    dup_char_frac = F.col("__dup_chars") * one / F.col("__tot_chars")
    stats = stats.select(
        "__id",
        "n_paras",
        dup_frac.alias("dup_para_frac"),
        dup_char_frac.alias("dup_para_char_frac"),
        ((dup_frac <= 0.30) & (dup_char_frac <= 0.20)).alias("repetition_pass"),
    )
    joined = df.join(stats, df[id_col] == stats["__id"], "left").drop("__id")
    return joined.withColumns(
        {
            "n_paras": F.coalesce(F.col("n_paras"), F.lit(0).cast("long")),
            "dup_para_frac": F.coalesce(F.col("dup_para_frac"), F.lit(0.0)),
            "dup_para_char_frac": F.coalesce(F.col("dup_para_char_frac"), F.lit(0.0)),
            "repetition_pass": F.coalesce(F.col("repetition_pass"), F.lit(False)),
        }
    )


def repetition_oracle_sql(
    corpus_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_tokens: int = 15,
) -> str:
    """DuckDB replay of :func:`with_repetition_signals` (same token windows
    as ``paragraph_dedup_oracle_sql``, same integer-exact fractions) —
    returns ONLY the id + signal columns; callers join extra payload
    themselves."""
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'), x -> length(x) > 0)"
    return f"""
WITH __c AS (SELECT {id_col} AS id, {toks} AS toks FROM ({corpus_sql})),
__p AS (
  SELECT id,
         array_to_string(toks[(i - 1) * {para_tokens} + 1 : i * {para_tokens}], ' ') AS para
  FROM __c, unnest(generate_series(1, CAST(ceil(len(toks) / {para_tokens}.0) AS BIGINT))) t(i)
  WHERE len(toks) > 0
),
__pc AS (
  SELECT id, para, count(*) AS c FROM __p WHERE length(para) > 0 GROUP BY id, para
),
__st AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n_paras, count(*) AS n_distinct,
         sum((c - 1) * length(para)) AS dup_chars,
         sum(c * length(para)) AS tot_chars
  FROM __pc GROUP BY id
)
SELECT c.id AS {id_col},
       coalesce(s.n_paras, 0) AS n_paras,
       coalesce((s.n_paras - s.n_distinct) * 1.0 / s.n_paras, 0.0) AS dup_para_frac,
       coalesce(s.dup_chars * 1.0 / s.tot_chars, 0.0) AS dup_para_char_frac,
       coalesce((s.n_paras - s.n_distinct) * 1.0 / s.n_paras <= 0.30
                AND s.dup_chars * 1.0 / s.tot_chars <= 0.20, FALSE) AS repetition_pass
FROM __c c LEFT JOIN __st s ON c.id = s.id
"""


# --- redaction --------------------------------------------------------------

# Email/URL patterns chosen for Java-regex / RE2 parity: character classes,
# \b and {m,} behave identically in both engines.  ONE definition each —
# redaction (placeholder substitution) and normalization (removal) must
# agree on what an email/URL is, and each Spark chain must agree with its
# DuckDB oracle.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"

# The lexicon line is the stand-in for an NER-derived PII term list.
REDACT_PATTERNS: list[tuple[str, str]] = [
    (EMAIL_RE, "<EMAIL>"),
    (URL_RE, "<URL>"),
    (r"\b(customer|merge)\b", "<ENTITY>"),
]


def redact_text(df: DataFrame, text_col: str = "text", out_col: str = "redacted") -> DataFrame:
    """PII-style scrubbing: chained global ``regexp_replace`` (emails, URLs,
    a lexicon), plus per-pattern match counts BEFORE redaction.  Row-local,
    JVM-side regex — no Python in the plan."""
    c = F.col(text_col)
    out = df
    red = c
    for i, (pat, repl) in enumerate(REDACT_PATTERNS):
        out = out.withColumn(
            f"n_redact_{i}", F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("long")
        )
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn(out_col, red)


def redact_oracle_exprs(text_col: str = "text", out_col: str = "redacted") -> str:
    t = text_col
    parts = []
    red = t
    for i, (pat, repl) in enumerate(REDACT_PATTERNS):
        sql_pat = pat.replace("'", "''")
        parts.append(f"CAST(len(regexp_extract_all({t}, '{sql_pat}')) AS BIGINT) AS n_redact_{i}")
        red = f"regexp_replace({red}, '{sql_pat}', '{repl}', 'g')"
    parts.append(f"{red} AS {out_col}")
    return ", ".join(parts)


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_guess") -> DataFrame:
    """Marker-stopword language heuristic: score = #marker hits per language,
    argmax wins (priority order on ties), 'und' when nothing matches."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    scores = {
        lang: sum(F.when(padded.contains(m), 1).otherwise(0) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in reversed(list(LANG_MARKERS)):  # earlier languages win ties
        s = scores[lang]
        cond = s >= best_score
        best = F.when(cond & (s > 0), F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return df.withColumn(out_col, best)


def language_id_oracle_expr(text_col: str = "text", out_col: str = "lang_guess") -> str:
    padded = f"(' ' || lower({text_col}) || ' ')"

    def score(lang):
        return " + ".join(
            f"(CASE WHEN contains({padded}, '{m}') THEN 1 ELSE 0 END)" for m in LANG_MARKERS[lang]
        )

    # same tie semantics: iterate reversed, >= replaces, earlier langs win ties
    expr_best = "'und'"
    expr_score = "0"
    for lang in reversed(list(LANG_MARKERS)):
        s = f"({score(lang)})"
        expr_best = f"(CASE WHEN {s} >= {expr_score} AND {s} > 0 THEN '{lang}' ELSE {expr_best} END)"
        expr_score = f"(CASE WHEN {s} >= {expr_score} THEN {s} ELSE {expr_score} END)"
    return f"{expr_best} AS {out_col}"


def text_fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Canonical document fingerprint: md5 of the whitespace-normalized,
    lowercased text — the exact-dedup key that survives formatting noise."""
    norm = F.concat_ws(" ", tokens(F.lower(F.col(text_col))))
    return df.withColumn(out_col, F.md5(norm))


def text_fingerprint_oracle_expr(text_col: str = "text", out_col: str = "fingerprint") -> str:
    toks = f"list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'), x -> length(x) > 0)"
    return f"md5(array_to_string({toks}, ' ')) AS {out_col}"


# --- winnowing (rolling-hash) fingerprints ---------------------------------

_WIN_B = 31
_WIN_P = 1_000_000_007


def _win_norm(col: Column, k: int) -> Column:
    """Winnowing canonical form: lowercase, alnum+space only, whitespace
    collapsed, right-padded so at least one k-gram exists.  rpad TRUNCATES
    longer strings (both engines), so it must be guarded to the short case.

    A ZERO-TOKEN document stays '' (no padding): empty content has no
    spans, so it must yield an EMPTY fingerprint set — fingerprinting the
    padding would make every pair of empty documents a \"verbatim match\"
    (found by the corpus fuzzer; DuckDB's natural NULL chain agrees)."""
    clean = F.regexp_replace(F.lower(col), r"[^a-z0-9 ]", "")
    collapsed = F.concat_ws(" ", tokens(clean))
    padded = F.when(
        (F.length(collapsed) > 0) & (F.length(collapsed) < k),
        F.rpad(collapsed, k, " "),
    ).otherwise(collapsed)
    # concat_ws turns a NULL token array into "" — force NULL-in NULL-out so
    # the DuckDB oracle (which propagates NULL end-to-end) stays bit-identical
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(padded)


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    out_col: str = "fps",
    spread: bool = True,
) -> DataFrame:
    """MOSS-style document fingerprints: polynomial rolling hash over char
    k-grams, minimum per window of ``w`` consecutive hashes, distinct-sorted.

    The hash is plain modular integer arithmetic (``sum(code * B^j) mod P``)
    so the DuckDB oracle replays it bit-for-bit — unlike engine-native hash
    functions.  Row-local (no shuffle); robust to formatting noise the way
    md5-of-normalized-text (``text_fingerprint``) is not: shared substrings
    still collide on fingerprints after local edits elsewhere.

    Execution split: normalization is Catalyst (codegen'd regexes); the
    rolling-hash + window-min numerics are an Arrow-batched pandas UDF of
    vectorized numpy slice arithmetic.  A pure-expression formulation needs a
    chain of k+w ``zip_with`` higher-order functions, which Spark evaluates
    interpreted with the whole operand subtree duplicated per step —
    megabyte-scale task binaries and ~40ms/row even on 300-char documents.
    The numpy path is the same O(n·(k+w)) arithmetic at C speed; per value
    ``code*weight < 128·P`` and the running sum stays under ``129·P``, well
    inside int64, so the per-step mod matches the expression/DuckDB residues
    exactly."""
    from pyspark.sql.types import ArrayType, LongType

    weights = [pow(_WIN_B, j, _WIN_P) for j in range(k)]

    @F.pandas_udf(ArrayType(LongType()))
    def _fps(norm: pd.Series) -> pd.Series:
        out = []
        for s in norm:
            if s is None:  # NULL text propagates as NULL, matching the oracle
                out.append(None)
                continue
            if not s:  # zero-token doc: no content, no spans, no fingerprints
                out.append(np.array([], dtype=np.int64))
                continue
            codes = np.frombuffer(s.encode("ascii", "replace"), dtype=np.uint8).astype(
                np.int64
            )
            L = codes.size - k + 1  # _win_norm rpads non-empty docs so L >= 1
            grams = np.zeros(L, dtype=np.int64)
            for j, wt in enumerate(weights):
                grams += codes[j : j + L] * wt
                grams %= _WIN_P
            Lw = max(L - w + 1, 1)
            mins = grams[:Lw].copy()
            for t in range(1, w):
                s2 = grams[t : t + Lw]
                np.minimum(mins[: s2.size], s2, out=mins[: s2.size])
            out.append(np.unique(mins))
        return pd.Series(out)

    # spread the scan across cores on LOCAL masters before the UDF: a single
    # small parquet file yields one input partition, serializing the whole
    # rolling-hash pass on one core (measured: 3.3 s of d_span_overlap's
    # 4.0 s ran in that one task); on a cluster the corpus has partitions
    # ≫ cores and the repartition is skipped (dedup._spread contract).
    # ``spread=False`` opts a KNOWN-TINY side out (contamination's eval
    # benchmark): fanning ~100 rows over core width pays a full near-idle
    # 32-task stage (measured: 7.1 s of summed run, 0.2 s of CPU) where the
    # single-partition UDF pass is milliseconds.
    from fineo_readerator_spark.llm_ops.dedup import _spread

    base = _spread(df) if spread else df
    return base.withColumn(out_col, _fps(_win_norm(F.col(text_col), k)))


def winnowing_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    out_col: str = "fps",
) -> str:
    """Full DuckDB oracle for ``winnowing_fingerprints`` (identical modular
    arithmetic, incremental mod per term)."""
    weights = [pow(_WIN_B, j, _WIN_P) for j in range(k)]
    toks = (
        f"list_filter(regexp_split_to_array(trim(regexp_replace(lower({text_col}),"
        f" '[^a-z0-9 ]', '', 'g')), '\\s+'), x -> length(x) > 0)"
    )
    # DuckDB's array_to_string([]) is NULL, so pin the zero-token case to ''
    # explicitly; NULL text stays NULL (checked first)
    collapsed = f"coalesce(array_to_string({toks}, ' '), '')"
    # rpad truncates longer strings — pad only the short NON-EMPTY case
    # (mirror _win_norm: a zero-token doc keeps '' and yields NO fingerprints)
    norm = (
        f"CASE WHEN {text_col} IS NULL THEN NULL"
        f" WHEN length({collapsed}) = 0 OR length({collapsed}) >= {k} THEN {collapsed}"
        f" ELSE rpad({collapsed}, {k}, ' ') END"
    )
    acc = "CAST(0 AS BIGINT)"
    for j, wt in enumerate(weights):
        acc = (
            f"(({acc}) + ascii(substr(__n, CAST(i + {j} AS INT), 1))"
            f" * CAST({wt} AS BIGINT)) % {_WIN_P}"
        )
    return f"""
WITH n AS (SELECT {id_col}, {norm} AS __n FROM {table}),
g AS (
  SELECT {id_col}, __n,
         list_transform(generate_series(1, CAST(length(__n) - {k} + 1 AS BIGINT)),
                        i -> {acc}) AS __g
  FROM n
)
SELECT {id_col},
       CASE WHEN __n IS NULL THEN NULL
            WHEN length(__n) = 0 THEN CAST([] AS BIGINT[])
            ELSE list_sort(list_distinct(list_transform(
              generate_series(1, CAST(greatest(len(__g) - {w} + 1, 1) AS BIGINT)),
              t -> list_min(__g[CAST(t AS INT):CAST(t + {w} - 1 AS INT)]))))
       END AS {out_col}
FROM g
"""


# --- benchmark decontamination --------------------------------------------


def contamination_pairs(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 3,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """(train_id, eval_id, n_shared) pairs where a training document shares
    ``min_shared``+ winnowing fingerprints with an eval/benchmark document —
    the train/test contamination check every training pipeline runs before a
    data release.

    Scale shape: fingerprints are ~1 per ``w`` characters, so the exploded
    (id, fp) set is a small multiple of the corpus row count; the eval side
    is tiny by construction (a benchmark), so its exploded fingerprints join
    as a BROADCAST — the 100 TB train side is never shuffled, just scanned,
    fingerprinted and hash-probed map-side.  The only shuffle is the final
    (train_id, eval_id) count aggregation over matching pairs, which scales
    with the contamination volume, not the corpus."""
    tf = winnowing_fingerprints(train_df, text_col, k, w).select(
        F.col(id_col).alias("train_id"), F.explode("fps").alias("fp")
    )
    # eval side is tiny by construction (a benchmark): skip the core-width
    # spread — it costs a near-idle 32-task stage locally and nothing anywhere
    ef = winnowing_fingerprints(eval_df, text_col, k, w, spread=False).select(
        F.col(id_col).alias("eval_id"), F.explode("fps").alias("fp")
    )
    return (
        tf.join(F.broadcast(ef), "fp")
        .groupBy("train_id", "eval_id")
        # fps arrays are distinct per doc, so count(*) counts distinct shared fps
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def contamination_oracle_sql(
    train_sql: str,
    eval_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 3,
    k: int = 8,
    w: int = 4,
) -> str:
    """DuckDB replay of ``contamination_pairs``; ``train_sql``/``eval_sql``
    yield (id, text) rows."""
    tfps = winnowing_oracle_sql(f"({train_sql})", id_col, text_col, k, w)
    efps = winnowing_oracle_sql(f"({eval_sql})", id_col, text_col, k, w)
    return f"""
WITH tf AS (SELECT {id_col} AS train_id, unnest(fps) AS fp FROM ({tfps})),
ef AS (SELECT {id_col} AS eval_id, unnest(fps) AS fp FROM ({efps}))
SELECT train_id, eval_id, count(*)::BIGINT AS n_shared
FROM tf JOIN ef USING (fp)
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


# --- token-window chunking -------------------------------------------------


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping fixed-token windows per document — the context-window
    chunking step of embedding/pretraining prep.  One row per chunk:
    (id, chunk_idx, chunk_tokens, chunk_text).

    Row-local and codegen'd: the token array materializes once per document
    in the projection, start offsets explode from a ``sequence``, and each
    chunk is a flat ``slice``+``concat_ws`` — no captured-lambda re-evaluation
    (see ``dedup.shingles``), no shuffle, so chunking parallelizes with the
    scan and never moves the corpus."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__t"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("__t"), F.lit(1)), F.lit(stride))
    return (
        base.select(id_col, "__t", F.posexplode(starts).alias("chunk_idx", "__s"))
        .select(
            id_col,
            F.col("chunk_idx").cast("long"),
            F.size(F.slice(F.col("__t"), F.col("__s"), chunk_tokens))
            .cast("long")
            .alias("chunk_tokens"),
            F.concat_ws(" ", F.slice(F.col("__t"), F.col("__s"), chunk_tokens)).alias(
                "chunk_text"
            ),
        )
    )


def chunk_oracle_sql(
    source_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> str:
    toks = (
        f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'), x -> length(x) > 0)"
    )
    return f"""
WITH t AS (SELECT {id_col}, {toks} AS toks FROM ({source_sql})),
s AS (
  SELECT {id_col}, toks, unnest(generate_series(1, greatest(len(toks), 1), {stride})) AS st
  FROM t
)
SELECT {id_col},
       CAST((st - 1) / {stride} AS BIGINT) AS chunk_idx,
       CAST(len(toks[CAST(st AS INT):CAST(st + {chunk_tokens} - 1 AS INT)]) AS BIGINT)
         AS chunk_tokens,
       array_to_string(toks[CAST(st AS INT):CAST(st + {chunk_tokens} - 1 AS INT)], ' ')
         AS chunk_text
FROM s
"""


# --- content-defined chunking (rolling-hash boundaries) --------------------


def content_defined_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking: split each document at tokens whose
    portable hash ≡ 0 (mod ``divisor``) — boundaries depend only on local
    CONTENT, so an insertion re-chunks one chunk instead of shifting every
    fixed window after it (the FastCDC/rsync property; ``chunk_documents``
    is the fixed-window complement).  Expected chunk length is ``divisor``
    tokens.  That stability is what makes chunk-level dedup and incremental
    RAG indexing possible: edited documents re-embed only the chunks that
    actually changed.

    One row per chunk: (id, chunk_idx, n_tokens, chunk_text).  A boundary
    token ENDS its chunk; any tail after the last boundary is a final
    chunk.  NULL and zero-token documents yield no chunks.

    Determinism: the boundary test is the portable 60-bit md5 leaf
    (``dedup._md5_long``) mod divisor — pure integer arithmetic the DuckDB
    oracle replays bit-for-bit.

    Scale shape: entirely ROW-LOCAL — the token array materializes once,
    boundary positions / span bounds are higher-order functions over it
    (lambdas touch only their arguments or the materialized column, never a
    captured unevaluated subtree — the ``dedup.shingles`` lesson), and the
    chunk rows inline-explode in place.  No shuffle anywhere: chunking
    parallelizes with the scan, the classic explode→window formulation
    (corpus-sized exchange on the doc id) is exactly what this avoids."""
    from fineo_readerator_spark.llm_ops.dedup import _md5_long

    if divisor < 1:
        raise ValueError(f"divisor must be >= 1, got {divisor}")
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__t")).filter(
        F.col("__t").isNotNull() & (F.size("__t") > 0)
    )
    n = F.size("__t")
    bpos = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: F.pmod(_md5_long(F.element_at(F.col("__t"), i)), F.lit(divisor)) == 0,
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda b: b + 1))
    ends = F.concat(bpos, F.array(n))
    # spans are strictly increasing, so only the TAIL span can be empty
    # (text ending on a boundary) — dropping it never renumbers chunk_idx
    spans = F.filter(
        F.zip_with(starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))),
        lambda p: p["e"] >= p["s"],
    )
    chunks = F.transform(
        spans,
        lambda p, i: F.struct(
            i.cast("int").alias("chunk_idx"),
            (p["e"] - p["s"] + 1).cast("int").alias("n_tokens"),
            F.array_join(
                F.slice(F.col("__t"), p["s"], p["e"] - p["s"] + 1), " "
            ).alias("chunk_text"),
        ),
    )
    return base.select(F.col(id_col), F.inline(chunks))


def cdc_chunks_oracle_sql(
    source_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 16,
) -> str:
    """DuckDB replay of :func:`content_defined_chunks` — same portable
    md5-leaf boundary test, same span construction, same tail-drop rule."""
    from fineo_readerator_spark.llm_ops.dedup_oracles import _hexparse

    toks = (
        f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'), x -> length(x) > 0)"
    )
    # _hexparse's own lambda variable is ``i`` — the outer boundary lambda
    # must use a distinct name or the inner one shadows it
    tok_hash = _hexparse("md5(toks[CAST(bi AS INT)])", 1, 15)
    return f"""
WITH __t AS (SELECT {id_col} AS id, {toks} AS toks FROM ({source_sql})),
__t2 AS (SELECT id, toks, len(toks) AS n FROM __t WHERE toks IS NOT NULL AND len(toks) > 0),
__b AS (
  SELECT id, toks, n,
         list_filter(generate_series(1, n), bi -> ({tok_hash}) % {divisor} = 0) AS bpos
  FROM __t2
),
__sp AS (
  SELECT id, toks,
         list_concat([CAST(1 AS BIGINT)], list_transform(bpos, b -> b + 1)) AS starts,
         list_concat(bpos, [n]) AS ends
  FROM __b
),
__ch AS (
  SELECT id, toks, starts, ends,
         list_filter(generate_series(1, len(starts)),
                     c -> ends[CAST(c AS INT)] >= starts[CAST(c AS INT)]) AS keep
  FROM __sp
)
SELECT id AS {id_col},
       CAST(unnest(generate_series(1, len(keep))) - 1 AS INT) AS chunk_idx,
       unnest(list_transform(keep,
              c -> CAST(ends[CAST(c AS INT)] - starts[CAST(c AS INT)] + 1 AS INT))) AS n_tokens,
       unnest(list_transform(keep,
              c -> array_to_string(toks[CAST(starts[CAST(c AS INT)] AS INT):CAST(ends[CAST(c AS INT)] AS INT)], ' '))) AS chunk_text
FROM __ch
"""


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 16,
) -> DataFrame:
    """Chunk-level exact dedup over content-defined chunks — the pipeline
    :func:`content_defined_chunks` exists to enable: because boundaries are
    content-local, a paragraph duplicated across documents (or surviving an
    edit) lands in IDENTICAL chunks, so one hash pass removes it from every
    copy; fixed windows would only dedup exact whole-window alignments.
    Keeps the FIRST occurrence of each distinct chunk text in (id,
    chunk_idx) order and returns surviving chunk rows.

    Scale shape: the chunking is row-local (zero shuffle); dedup is ONE
    hash shuffle partitioned by md5(chunk_text) with ``row_number() = 1``
    (WindowGroupLimit keeps one row per hash per mapper, the exact_dedup
    shape — the shuffle carries ~one row per distinct chunk per mapper,
    not the corpus)."""
    from pyspark.sql.window import Window

    chunks = content_defined_chunks(df, id_col, text_col, divisor)
    w = Window.partitionBy(F.md5("chunk_text")).orderBy(id_col, "chunk_idx")
    return (
        chunks.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdc_chunk_dedup_oracle_sql(
    source_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 16,
) -> str:
    """DuckDB replay of :func:`cdc_chunk_dedup` — the chunk oracle as a
    subquery, then the same first-occurrence window."""
    chunks = cdc_chunks_oracle_sql(source_sql, id_col, text_col, divisor)
    return f"""
SELECT {id_col}, chunk_idx, n_tokens, chunk_text FROM (
  SELECT *, row_number() OVER (PARTITION BY md5(chunk_text)
                               ORDER BY {id_col}, chunk_idx) AS rn
  FROM ({chunks})
) WHERE rn = 1
"""


# --- corpus-trained bigram LM scoring (CCNet-style perplexity filter) ------


#: Sentinel that out-of-vocabulary tokens map to before bigram counting.
#: Contains a NUL byte, which the whitespace tokenizer can never strip, so a
#: natural token colliding with it is not a practical concern — and even if
#: one did, it would simply share the UNK context, which is the OOV semantic.
UNK_TOKEN = "\x00unk\x00"


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    vocab_size: int = 100_000,
) -> DataFrame:
    """Per-document average log-likelihood under a word-bigram model trained
    on the corpus itself — the perplexity-style quality signal the CCNet
    pipeline uses to bucket documents (low avg log-prob ≈ unnatural text).

    The model is trained on a **capped vocabulary**: the top ``vocab_size``
    tokens by corpus frequency (ties broken by token, ascending, so the cut
    is deterministic); every other token maps to a single ``UNK_TOKEN``
    context first.  This is the CCNet shape — it both bounds the model and
    improves the signal (hapax legomena, URLs and typos stop fragmenting
    the context distribution).

    Add-k smoothing: ``P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)`` with
    ``c(w1)`` the bigram-context count (so probabilities normalize exactly)
    and ``V`` the number of distinct mapped tokens (≤ vocab_size + 1).

    Scale shape: bigram construction is row-local (``transform`` over the
    token array — no shuffle, no UDF); vocabulary selection is one
    map-side-combined token count followed by a TakeOrdered of
    ``vocab_size`` rows; the vocab table (≤ vocab_size rows) and the
    context-count table ``c1`` (≤ vocab_size + 1 rows) are parameter-bounded
    and safe to broadcast.  The bigram-count table ``c12`` is bounded only
    by (V+1)² — at web scale that can be tens of GB, so it carries **no
    broadcast hint**: AQE sizes that join from runtime statistics and falls
    back to a shuffle join when it outgrows the broadcast threshold.

    Determinism: counts are exact integers; only the final ``avg(ln ...)``
    is floating point, rounded to 6 decimals (sub-ulp engine differences in
    ``ln`` vanish at that precision).
    """
    from pyspark.sql import functions as F

    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")

    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col), toks.alias("__t")).withColumn(
        "__n", F.size("__t")
    )
    unigrams = base.select(F.explode("__t").alias("__t_w"))
    counts = unigrams.groupBy(F.col("__t_w").alias("__w")).agg(
        F.count("*").alias("__wc")
    )
    # Top-V by (count desc, token asc): a TakeOrdered over the token-count
    # aggregate — never more than vocab_size rows leave the executors.
    vocab = (
        counts.orderBy(F.col("__wc").desc(), F.col("__w").asc())
        .limit(vocab_size)
        .select("__w")
    )
    bi = base.filter(F.col("__n") >= 2).select(
        id_col,
        F.explode(
            F.expr("transform(slice(__t, 1, __n - 1), (w, i) -> struct(w AS w1, __t[i + 1] AS w2))")
        ).alias("__b"),
    ).select(id_col, "__b.w1", "__b.w2")
    v1 = vocab.select(F.col("__w").alias("w1"), F.lit(True).alias("__in1"))
    v2 = vocab.select(F.col("__w").alias("w2"), F.lit(True).alias("__in2"))
    bim = (
        bi.join(F.broadcast(v1), ["w1"], "left")
        .join(F.broadcast(v2), ["w2"], "left")
        .select(
            id_col,
            F.when(F.col("__in1"), F.col("w1")).otherwise(F.lit(UNK_TOKEN)).alias("m1"),
            F.when(F.col("__in2"), F.col("w2")).otherwise(F.lit(UNK_TOKEN)).alias("m2"),
        )
    )
    c12 = bim.groupBy("m1", "m2").agg(F.count("*").alias("__c12"))
    c1 = c12.groupBy("m1").agg(F.sum("__c12").alias("__c1"))
    # V for smoothing = distinct mapped tokens (capped vocab ∪ maybe-UNK),
    # DERIVED from the token-count aggregate already built for vocab
    # selection — V = min(D, vocab_size) + (D > vocab_size), with D the
    # distinct-token count.  The naive formulation (re-explode the corpus,
    # join against vocab, countDistinct) is a whole redundant corpus pass.
    vcnt = counts.agg(F.count("*").alias("__d")).select(
        (
            F.least(F.col("__d"), F.lit(vocab_size))
            + (F.col("__d") > vocab_size).cast("long")
        ).alias("__v")
    )
    scored = (
        # c12 is corpus-vocabulary-derived and NOT parameter-bounded in the
        # broadcast sense — deliberately unhinted so AQE picks the strategy.
        bim.join(c12, ["m1", "m2"])
        .join(F.broadcast(c1), ["m1"])
        .crossJoin(F.broadcast(vcnt))
        .withColumn(
            "__lp",
            F.log((F.col("__c12") + F.lit(k)) / (F.col("__c1") + F.lit(k) * F.col("__v"))),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("__lp"), 6).alias("avg_logp"),
    )


def bigram_lm_oracle_sql(
    source_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    vocab_size: int = 100_000,
) -> str:
    toks = (
        f"list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'), x -> length(x) > 0)"
    )
    unk = "chr(0) || 'unk' || chr(0)"
    return f"""
WITH tok AS (SELECT {id_col}, {toks} AS t FROM ({source_sql})),
uni AS (SELECT unnest(t) AS w FROM tok),
vocab AS (
  SELECT w FROM (SELECT w, count(*) AS wc FROM uni GROUP BY w)
  ORDER BY wc DESC, w ASC LIMIT {vocab_size}
),
bi AS (
  SELECT {id_col},
         CASE WHEN t[i] IN (SELECT w FROM vocab) THEN t[i] ELSE {unk} END AS m1,
         CASE WHEN t[i + 1] IN (SELECT w FROM vocab) THEN t[i + 1] ELSE {unk} END AS m2
  FROM (SELECT {id_col}, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM tok WHERE len(t) >= 2)
),
c12 AS (SELECT m1, m2, count(*) AS c12 FROM bi GROUP BY m1, m2),
c1 AS (SELECT m1, sum(c12) AS c1 FROM c12 GROUP BY m1),
v AS (
  SELECT count(DISTINCT CASE WHEN w IN (SELECT w FROM vocab) THEN w ELSE {unk} END) AS v
  FROM uni
),
s AS (
  SELECT bi.{id_col}, ln((c12.c12 + {k}) / (c1.c1 + {k} * v.v)) AS lp
  FROM bi JOIN c12 USING (m1, m2) JOIN c1 USING (m1) CROSS JOIN v
)
SELECT {id_col}, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logp
FROM s GROUP BY {id_col}
"""


# --- normalization ----------------------------------------------------------


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "norm_text"
) -> DataFrame:
    """Canonical text normalization for dedup/tokenization keys: casefold,
    strip URLs and emails entirely (they carry session ids and tracking
    params that make otherwise-identical texts distinct), collapse all
    whitespace runs to single spaces, trim.  Appends ``out_col`` plus its
    token count ``n_norm_tokens``.

    This is the KEY-normalization counterpart of ``redact_text`` (which
    preserves document shape with placeholders for training); dedup wants
    the noise GONE, not renamed.  Row-local chained ``regexp_replace`` —
    JVM-side, whole-stage codegen, no shuffle.  Unicode NFC is deliberately
    not attempted: Spark has no built-in normalizer and a Python UDF here
    would put the slow path in front of every dedup key; corpora needing
    NFC should normalize at ingest."""
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, EMAIL_RE, "")
    c = F.regexp_replace(c, URL_RE, "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col, c).withColumn(
        "n_norm_tokens", F.size(tokens(F.col(out_col))).cast("long")
    )


def normalize_oracle_exprs(text_col: str = "text", out_col: str = "norm_text") -> str:
    """The same normalization as DuckDB SQL (kept adjacent so the chains
    evolve together)."""
    c = f"lower({text_col})"
    c = f"regexp_replace({c}, '{EMAIL_RE}', '', 'g')"
    c = f"regexp_replace({c}, '{URL_RE}', '', 'g')"
    c = f"trim(regexp_replace({c}, '\\s+', ' ', 'g'))"
    toks = f"len(list_filter(regexp_split_to_array({c}, '\\s+'), x -> length(x) > 0))"
    return f"{c} AS {out_col}, CAST({toks} AS BIGINT) AS n_norm_tokens"


# --- filter-funnel report ----------------------------------------------------


def quality_funnel(df: DataFrame, gates: list[tuple[str, Column]]) -> DataFrame:
    """Ordered-gate filter funnel: attribute every dropped document to the
    FIRST gate it fails and report, per stage, how many documents reached
    it, dropped there, and passed through — the pipeline-observability view
    every curation chain needs before anyone trusts its yield (FineWeb /
    Dolma publish exactly this table per snapshot).

    Gate semantics: a NULL gate verdict counts as FAIL (a gate that cannot
    evaluate a document must not pass it) — pinned on both engines via
    ``coalesce(gate, FALSE)``.

    Scale shape: ONE corpus scan — the first-fail stage index is a single
    chained CASE projection (whole-stage codegen), aggregated by one hash
    shuffle of at most ``len(gates)+1`` distinct keys (map-side combined,
    so the exchange carries ~n_gates rows per mapper).  The
    reached/dropped arithmetic then runs on that gate-count frame — a
    window over ≤ n_gates rows, never the corpus.  Output: ``(stage, gate,
    n_reached, n_dropped, n_passed)`` ordered by stage, where the last
    stage's ``n_passed`` is the corpus yield."""
    from pyspark.sql.window import Window

    if not gates:
        raise ValueError("quality_funnel needs at least one gate")
    ff: Column | None = None
    for i, (_, g) in enumerate(gates):
        fail = ~F.coalesce(g, F.lit(False))
        ff = F.when(fail, F.lit(i + 1)) if ff is None else ff.when(fail, F.lit(i + 1))
    counts = (
        df.withColumn("__ff", ff.otherwise(F.lit(0)))
        .groupBy("__ff")
        .agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=False)  # consumed by the total AND the join
    )
    spark = df.sparkSession
    # Arrow local frame, not the pickled-RDD path (see
    # dedup._components_min_label): no Python worker in the executed plan
    import pandas as pd

    stages = spark.createDataFrame(
        pd.DataFrame(
            [(i + 1, name) for i, (name, _) in enumerate(gates)],
            columns=["stage", "gate"],
        ),
        "stage int, gate string",
    )
    total = counts.agg(F.coalesce(F.sum("__n"), F.lit(0)).alias("__t"))
    w = (
        Window.orderBy("stage")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        stages.join(F.broadcast(counts), F.col("stage") == F.col("__ff"), "left")
        .select("stage", "gate", F.coalesce("__n", F.lit(0)).alias("n_dropped"))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "n_reached",
            (F.col("__t") - F.coalesce(F.sum("n_dropped").over(w), F.lit(0))).cast("long"),
        )
        .select(
            "stage",
            "gate",
            "n_reached",
            F.col("n_dropped").cast("long").alias("n_dropped"),
            (F.col("n_reached") - F.col("n_dropped")).cast("long").alias("n_passed"),
        )
        .orderBy("stage")
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Shannon entropy (bits) of each document's token distribution — the
    gibberish/template detector: near zero for repeated-token spam,
    ≈log2(n_types) for natural prose; pairs with the repetition signals as
    a cheap pre-filter.  Documents with zero tokens (or NULL text) are
    ABSENT from the output (entropy of an empty distribution is undefined)
    — the oracle replays the same inner semantics.

    Determinism: each term ``-(c/n)·log2(c/n)`` divides exact longs
    (identical IEEE doubles), rounds at 1e-12 and sums as exact decimal —
    order-independent, so libm ulp differences and partial-agg order can't
    flip the hash; the sum rounds at 1e-6.  Entropy is a sum of
    non-negative terms, so no -0.0 can surface.

    Scale shape: ONE (id, token) hash agg (map-side combined), then the
    per-doc total via a window on the id — the narrower shuffle the final
    per-doc aggregate reuses.  Output ``(id, n_tokens, n_types,
    entropy)``."""
    from pyspark.sql.window import Window

    ex = df.select(F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("__t"))
    counts = ex.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("__c"))
    p = F.col("__c") / F.col("__n")
    term = F.round(-p * F.log2(p), 12).cast("decimal(20,12)")
    return (
        counts.withColumn("__n", F.sum("__c").over(Window.partitionBy("__id")))
        .withColumn("__term", term)
        .groupBy("__id")
        .agg(
            F.max("__n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(F.sum("__term").cast("double"), 6).alias("entropy"),
        )
        .select(F.col("__id").alias(id_col), "n_tokens", "n_types", "entropy")
    )


def token_entropy_oracle_sql(
    corpus_sql: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB replay of :func:`token_entropy`: identical counts, divisions,
    1e-12 term rounding and decimal summation."""
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'), x -> length(x) > 0)"
    return f"""
WITH __t AS (
  SELECT id, unnest(toks) AS tok
  FROM (SELECT {id_col} AS id, {toks} AS toks FROM ({corpus_sql}))
),
__c AS (SELECT id, tok, count(*) AS c FROM __t GROUP BY 1, 2),
__n AS (SELECT id, c, sum(c) OVER (PARTITION BY id) AS n FROM __c),
__term AS (
  SELECT id, n,
         CAST(round(-(c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE)), 12)
              AS DECIMAL(20,12)) AS term
  FROM __n
)
SELECT id AS {id_col}, CAST(max(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(CAST(sum(term) AS DOUBLE), 6) AS entropy
FROM __term GROUP BY id
"""


def funnel_oracle_sql(corpus_sql: str, gates_sql: list[tuple[str, str]]) -> str:
    """DuckDB replay of :func:`quality_funnel`: identical first-fail CASE
    chain (NULL verdict = FAIL), identical running-total arithmetic.  Each
    ``gates_sql`` entry is ``(name, boolean SQL over the corpus columns)``
    and must express the same predicate as the Spark gate."""
    case = " ".join(
        f"WHEN NOT coalesce(({g}), FALSE) THEN {i + 1}"
        for i, (_, g) in enumerate(gates_sql)
    )
    stage_rows = ", ".join(
        "({}, '{}')".format(i + 1, n.replace("'", "''"))
        for i, (n, _) in enumerate(gates_sql)
    )
    return f"""
WITH __ff AS (SELECT CASE {case} ELSE 0 END AS ff FROM ({corpus_sql})),
__cnt AS (SELECT ff, count(*) AS n FROM __ff GROUP BY ff),
__tot AS (SELECT coalesce(sum(n), 0) AS t FROM __cnt),
__stages(stage, gate) AS (VALUES {stage_rows}),
__d AS (
  SELECT s.stage, s.gate, coalesce(c.n, 0) AS n_dropped
  FROM __stages s LEFT JOIN __cnt c ON c.ff = s.stage
)
SELECT CAST(stage AS INT) AS stage, gate,
       CAST(t - coalesce(sum(n_dropped) OVER (ORDER BY stage
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_reached,
       CAST(n_dropped AS BIGINT) AS n_dropped,
       CAST(t - coalesce(sum(n_dropped) OVER (ORDER BY stage
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) - n_dropped AS BIGINT) AS n_passed
FROM __d CROSS JOIN __tot ORDER BY stage
"""


# PII patterns shared verbatim by the Spark and DuckDB sides: RE2-safe
# (no lookaround — DuckDB's regex engine lacks it) and Java-regex-identical
# for these constructs (literal classes, bounded repetition, \b).  Ordered:
# emails redact FIRST (their local part can contain digits a later numeric
# pattern would otherwise bite into), then IPv4 (dots disambiguate it from
# phone runs, which exclude '.'), then phone-like digit runs.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4s", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phones", r"\+?\d[\d \-()]{7,}\d", "[PHONE]"),
]


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "scrubbed",
) -> DataFrame:
    """PII masking for training corpora (the Dolma/RedPajama pre-release
    step): redact emails / IPv4 addresses / phone-like digit runs with
    typed placeholder tokens and append per-document match counts — the
    counts feed release audits, the scrubbed column feeds training.

    Scale shape: one codegen'd projection per row (chained
    ``regexp_replace`` + ``regexp_count``), no shuffle, no UDF — the
    regex classes are RE2-safe so the DuckDB oracle replays them with the
    exact same pattern strings (:data:`PII_PATTERNS` is the single source
    of truth).  NULL text passes through NULL with zero counts."""
    scrubbed = F.col(text_col)
    counts = {}
    for name, pat, token in PII_PATTERNS:
        # count on the PARTIALLY-scrubbed text each stage sees, so the
        # stages compose exactly like the replacements do
        counts[f"n_{name}"] = F.coalesce(
            F.regexp_count(scrubbed, F.lit(pat)), F.lit(0)
        ).cast("long")
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.withColumns({**counts, out_col: scrubbed})


def pii_scrub_oracle_exprs(text_col: str = "text", out_col: str = "scrubbed") -> str:
    """The DuckDB twin of :func:`pii_scrub` as a SELECT-fragment: identical
    pattern strings, identical stage order, counts taken on the same
    partially-scrubbed stage inputs."""
    cur = text_col
    frags = []
    for name, pat, token in PII_PATTERNS:
        esc = pat.replace("'", "''")
        frags.append(
            f"coalesce(len(regexp_extract_all({cur}, '{esc}')), 0) AS n_{name}"
        )
        cur = f"regexp_replace({cur}, '{esc}', '{token}', 'g')"
    frags.append(f"{cur} AS {out_col}")
    return ", ".join(frags)


def pii_extract(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The extraction face of :func:`pii_scrub`: one row per distinct
    (document, kind, value) PII match with its occurrence count — what a
    release audit reads when counts alone aren't enough (which addresses
    leaked, how often, from which docs).  Same ``PII_PATTERNS`` single
    source as the scrubber, so the two faces can never disagree on what
    counts as a match.

    Scale shape: ONE text scan — the three extract-all arrays concat into
    a (kind, value) struct array inside a single codegen'd projection,
    then one explode + one (doc, kind, value) count aggregate whose output
    is match-volume-sized, not corpus-sized."""
    # Spark SQL string literals process backslash escapes (DuckDB's don't),
    # so the shared patterns double their backslashes ONLY on this side
    legs = ", ".join(
        f"transform(regexp_extract_all({text_col}, '{pat.replace(chr(92), chr(92) * 2)}', 0),"
        f" v -> struct('{kind}' AS kind, v AS value))"
        for kind, pat, _ in PII_PATTERNS
    )
    return (
        df.select(
            F.col(id_col),
            F.explode(F.expr(f"concat({legs})")).alias("m"),
        )
        .select(id_col, F.col("m.kind").alias("kind"), F.col("m.value").alias("value"))
        .groupBy(id_col, "kind", "value")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def pii_extract_oracle_sql(
    corpus_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB replay of :func:`pii_extract` (same RE2-safe patterns, one
    UNION ALL leg per kind)."""
    legs = " UNION ALL ".join(
        f"SELECT {id_col}, '{kind}' AS kind,"
        f" unnest(regexp_extract_all({text_col}, '{pat}')) AS value"
        f" FROM ({corpus_sql})"
        for kind, pat, _ in PII_PATTERNS
    )
    return f"""
WITH m AS ({legs})
SELECT {id_col}, kind, value, count(*) AS n FROM m GROUP BY 1, 2, 3
"""


def collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_count: int = 3,
) -> DataFrame:
    """Top-``k`` adjacent-token collocations by LIFT — ``c_xy·N /
    (c_x·c_y)``, the integer-exact monotone core of PMI (no logarithm, so
    no cross-engine float hazard): which word pairs co-occur far above
    chance (named entities, technical terms, templated boilerplate).

    Scale shape: one tokenize pass feeds both the bigram and unigram
    counts (map-side-combined aggregates); ``min_count`` prunes the
    bigram tail BEFORE the two unigram joins (hapax bigrams dominate the
    pair table and can never rank); the unigram side is vocabulary-sized
    and NOT broadcast-hinted — AQE sizes it (the tfidf dfreq lesson).
    ``lift_ppm`` is half-up integer ppm over decimal(38,0)/HUGEINT
    intermediates (c_xy·N·10⁶ stays under 38 digits out to ~10¹³ tokens).
    Top-k is a TakeOrdered on (lift DESC, pair ASC)."""
    toks = df.select(F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__t"))
    toks = toks.filter(F.size("__t") >= 2).localCheckpoint(eager=False)
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_tokens"))
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(slice(__t, 1, size(__t) - 1),"
                    " (v, i) -> struct(v AS w1, element_at(__t, i + 2) AS w2))"
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= min_count)
    )
    joined = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_tok))
    )
    lift = F.expr(
        "(cast(n_xy as decimal(38,0)) * n_tokens * 2000000"
        " + cast(c1 as decimal(38,0)) * c2)"
        " div (cast(c1 as decimal(38,0)) * c2 * 2)"
    )
    return (
        joined.select("w1", "w2", "n_xy", lift.alias("lift_ppm"))
        .orderBy(F.desc("lift_ppm"), "w1", "w2")
        .limit(k)
    )


def collocations_oracle_sql(
    corpus_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_count: int = 3,
) -> str:
    """DuckDB replay of :func:`collocations` — same tokenization, adjacency
    windows, min_count cut and half-up HUGEINT lift."""
    toks = (
        f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'),"
        " x -> length(x) > 0)"
    )
    return f"""
WITH t AS (
  SELECT {id_col} AS id, {toks} AS toks FROM ({corpus_sql})
),
t2 AS (SELECT * FROM t WHERE len(toks) >= 2),
uni AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM t2) GROUP BY w
),
ntok AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
bi AS (
  SELECT w1, w2, count(*) AS n_xy FROM (
    SELECT toks[i] AS w1, toks[i + 1] AS w2
    FROM t2, unnest(generate_series(1, len(toks) - 1)) s(i)
  ) GROUP BY w1, w2
  HAVING count(*) >= {min_count}
)
SELECT w1, w2, n_xy,
       CAST((CAST(n_xy AS HUGEINT) * n_tokens * 2000000 + CAST(c1 AS HUGEINT) * c2)
            // (CAST(c1 AS HUGEINT) * c2 * 2) AS BIGINT) AS lift_ppm
FROM (
  SELECT bi.w1, bi.w2, bi.n_xy, u1.c AS c1, u2.c AS c2
  FROM bi JOIN uni u1 ON u1.w = bi.w1 JOIN uni u2 ON u2.w = bi.w2
) CROSS JOIN ntok
ORDER BY lift_ppm DESC, w1, w2
LIMIT {k}
"""


def readability(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch reading-ease per document, in clamped integer MILLI units —
    the classic cheap readability gate an LLM data pipeline applies
    alongside the Gopher rules (too-low scores flag legalese/boilerplate,
    implausibly high ones flag word-salad).

    ``flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``
    computed as ONE integer rational over the common denominator S·W —
    ``flesch_milli = half-up((206835·S·W − 1015·W² − 84600·Y·S)/(S·W))``,
    clamped at 0 BEFORE the division so no engine ever divides a negative
    (native integer division truncates toward zero on both engines, which
    breaks the half-up formula's floor assumption on negatives — the
    repo's integer-division rule is clamp first or correct explicitly).
    The clamp CONDITION itself runs in decimal(38,0)/HUGEINT like the
    THEN branch: at multi-million-word documents ``1015·W²`` exceeds
    int64, where the old int64 condition misbehaved in BOTH Spark modes —
    under ANSI (the Spark 4 default, pinned in ``session._IO_CONFS``) it
    raises, under legacy mode it wraps silently — while the DuckDB oracle
    promotes to HUGEINT and answers; widening the condition keeps the
    faces aligned either way (r9/r10 ADVICE).
    Syllables are approximated as vowel-letter groups ``[aeiouy]+`` with a
    1-per-word floor (the standard heuristic); sentences as ``[.!?]+``
    runs with a 1-per-doc floor.  Everything is codegen'd regexp counts —
    one projection, no shuffle, no Python."""
    c = F.col(text_col)
    toks = tokens(c)
    w_cnt = F.size(toks)
    s_cnt = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), 0))
    )
    vowel_groups = F.size(F.regexp_extract_all(F.lower(c), F.lit("[aeiouy]+"), 0))
    voweled_words = F.size(F.filter(toks, lambda t: F.lower(t).rlike("[aeiouy]")))
    syl = vowel_groups + (w_cnt - voweled_words)
    out = df.select(
        F.col(id_col),
        w_cnt.cast("long").alias("n_words"),
        s_cnt.cast("long").alias("n_sentences"),
        syl.cast("long").alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    return out.withColumn(
        "flesch_milli",
        F.expr(
            "CASE WHEN cast(206835 as decimal(38,0)) * n_sentences * n_words"
            "          - cast(1015 as decimal(38,0)) * n_words * n_words"
            "          - cast(84600 as decimal(38,0)) * n_syllables * n_sentences"
            "          <= 0 THEN 0L ELSE"
            " ((cast(206835 as decimal(38,0)) * n_sentences * n_words"
            "   - cast(1015 as decimal(38,0)) * n_words * n_words"
            "   - cast(84600 as decimal(38,0)) * n_syllables * n_sentences) * 2"
            "  + cast(n_sentences as decimal(38,0)) * n_words)"
            " div (cast(n_sentences as decimal(38,0)) * n_words * 2)"
            " END"
        ).cast("long"),
    )


def readability_oracle_sql(
    corpus_sql: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB replay of :func:`readability` — same regexp counts, same
    clamp-then-half-up integer rational."""
    toks = (
        f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'),"
        " x -> length(x) > 0)"
    )
    return f"""
WITH t AS (
  SELECT {id_col}, {text_col} AS txt, {toks} AS toks FROM ({corpus_sql})
),
m AS (
  SELECT {id_col},
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(greatest(1, len(regexp_extract_all(txt, '[.!?]+'))) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(txt), '[aeiouy]+'))
              + len(toks)
              - len(list_filter(toks, x -> regexp_matches(lower(x), '[aeiouy]')))
              AS BIGINT) AS n_syllables
  FROM t WHERE len(toks) > 0
)
SELECT {id_col}, n_words, n_sentences, n_syllables,
       CASE WHEN CAST(206835 AS HUGEINT) * n_sentences * n_words
                 - CAST(1015 AS HUGEINT) * n_words * n_words
                 - CAST(84600 AS HUGEINT) * n_syllables * n_sentences
                 <= 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(((CAST(206835 AS HUGEINT) * n_sentences * n_words
                        - CAST(1015 AS HUGEINT) * n_words * n_words
                        - CAST(84600 AS HUGEINT) * n_syllables * n_sentences) * 2
                       + CAST(n_sentences AS HUGEINT) * n_words)
                      // (CAST(n_sentences AS HUGEINT) * n_words * 2) AS BIGINT)
       END AS flesch_milli
FROM m
"""


def zipf_fit(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_ranks: int = 200,
) -> DataFrame:
    """Zipf power-law fit per corpus slice: OLS of ``ln(freq)`` on
    ``ln(rank)`` over the top ``top_ranks`` token frequencies — the
    vocabulary-health audit a pretraining curator runs per source
    (natural text sits near slope −1; templated/boilerplate slices run
    much flatter or steeper, machine-generated spam shows a truncated
    head).  Complements :func:`token_entropy` (per-document) with a
    per-SLICE distributional shape.

    Cross-engine float discipline (the token_entropy precedent, nano
    grid): each ``ln`` term is rounded to an INTEGER nano-ln
    (``round(ln·10⁹)`` — both engines round positive halves away from
    zero identically), then every OLS moment is an exact decimal(38,0)/
    HUGEINT sum of those integers, so summation order cannot drift; the
    nano scales cancel in the slope ratio and only the final
    slope/intercept/r2 touch doubles (trend_slopes' operation order,
    rounded 1e-6).  Rank ties break on the raw token's binary collation
    — identical on both engines.

    Scale shape: one (slice, token) count aggregate (the corpus-sized
    pass, map-side combined), one per-slice top-k window over the
    VOCABULARY frame, then |slices|×top_ranks-sized moment math.
    Slices with < 2 distinct ranked tokens have zero x-variance and are
    absent (no fit exists)."""
    from pyspark.sql import Window

    if top_ranks < 2:
        raise ValueError(f"top_ranks must be >= 2, got {top_ranks}")
    tok = df.select(
        F.col(group_col).alias("g"),
        F.explode(tokens(F.col(text_col))).alias("w"),
    )
    freq = tok.groupBy("g", "w").agg(F.count(F.lit(1)).alias("f"))
    w = Window.partitionBy("g").orderBy(F.desc("f"), F.asc("w"))
    ranked = (
        freq.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= top_ranks)
        .select(
            "g",
            F.round(F.log("r") * 1e9, 0).cast("long").alias("x"),
            F.round(F.log("f") * 1e9, 0).cast("long").alias("y"),
        )
    )
    m = ranked.groupBy("g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("cast(y as decimal(38,0)) * y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    out = m.withColumn(
        "zipf_slope",
        F.when(denx > 0, F.round(num.cast("double") / denx.cast("double"), 6)),
    )
    intercept = F.when(
        F.col("zipf_slope").isNotNull(),
        F.round(
            (F.col("sy").cast("double") - F.col("zipf_slope") * F.col("sx").cast("double"))
            / (F.col("n").cast("double") * 1e9),
            6,
        ),
    )
    # r2's products run in DOUBLES: at the nano grid num ~ 10²⁵, so num²
    # (~10⁵⁰) overflows decimal(38,0) AND HUGEINT — cast each factor first
    # and keep the op order identical in the oracle (unlike trend_slopes,
    # whose rebased-bucket moments stay inside the exact-integer range)
    r2 = F.when(
        (denx > 0) & (deny > 0),
        F.round(
            (num.cast("double") * num.cast("double"))
            / (denx.cast("double") * deny.cast("double")),
            6,
        ),
    )
    return out.filter(F.col("zipf_slope").isNotNull()).select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n_ranks"),
        "zipf_slope",
        intercept.alias("ln_intercept"),
        r2.alias("r2"),
    )


def zipf_fit_oracle_sql(
    corpus_sql: str,
    group_col: str = "source",
    text_col: str = "text",
    top_ranks: int = 200,
) -> str:
    """DuckDB replay of :func:`zipf_fit` — same whitespace tokens, nano-ln
    integer grid, HUGEINT moments and float tail order."""
    toks = (
        f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'),"
        " t -> length(t) > 0)"
    )
    return f"""
WITH tok AS (
  SELECT {group_col} AS g, unnest({toks}) AS w FROM ({corpus_sql})
),
freq AS (SELECT g, w, count(*) AS f FROM tok GROUP BY 1, 2),
ranked AS (
  SELECT g,
         CAST(round(ln(r) * 1e9, 0) AS BIGINT) AS x,
         CAST(round(ln(f) * 1e9, 0) AS BIGINT) AS y
  FROM (SELECT g, f,
               row_number() OVER (PARTITION BY g ORDER BY f DESC, w ASC) AS r
        FROM freq)
  WHERE r <= {top_ranks}
),
m AS (
  SELECT g, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM ranked GROUP BY g
),
s AS (
  SELECT g, n, sx, sy,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS denx,
         n * syy - sy * sy AS deny
  FROM m
),
sl AS (
  SELECT *, CASE WHEN denx > 0
                 THEN round(CAST(num AS DOUBLE) / CAST(denx AS DOUBLE), 6)
            END AS zipf_slope
  FROM s
)
SELECT g AS {group_col}, CAST(n AS BIGINT) AS n_ranks, zipf_slope,
       CASE WHEN zipf_slope IS NOT NULL
            THEN round((CAST(sy AS DOUBLE) - zipf_slope * CAST(sx AS DOUBLE))
                       / (CAST(n AS DOUBLE) * 1e9), 6) END AS ln_intercept,
       CASE WHEN denx > 0 AND deny > 0
            THEN round((CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
                       / (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 6)
            END AS r2
FROM sl WHERE zipf_slope IS NOT NULL
"""


def code_detect(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Code-vs-prose gate per document — the pretraining-mix router that
    decides whether a crawl document flows to the code pipeline (its own
    dedup/quality rules) or the prose one: three cheap row-local signals
    in exact integers, no model, no shuffle.

    - ``sym_milli``: half-up milli-ratio of code-symbol characters
      (``{}();=<>[]``) to total characters — prose sits near 0, source
      files near 40–120;
    - ``indent_lines``: lines opening with 4+ spaces or a tab (block
      structure survives minification of everything else);
    - ``kw_hits``: whitespace tokens that are bare code keywords
      (def/return/import/function/class/const/var/if/else/for/while);
    - ``is_code``: ``(sym_milli ≥ 25 AND kw_hits ≥ 2) OR indent_lines ≥ 3``
      — a deterministic integer rule, tunable downstream since all three
      signals are emitted.

    Everything is codegen'd regexp counts over one projection (the
    readability shape); the ppm division is never-negative so both
    engines' truncating half-up agrees.  Zero-char documents are absent
    (no ratio exists)."""
    c = F.col(text_col)
    n_chars = F.length(c)
    syms = F.size(F.regexp_extract_all(c, F.lit(r"[{}();=<>\[\]]"), 0))
    indent = F.size(
        F.filter(F.split(c, "\n"), lambda l: l.rlike(r"^(    |\t)"))
    )
    kws = F.size(
        F.filter(
            tokens(c),
            lambda t: t.isin(
                "def", "return", "import", "function", "class", "const",
                "var", "if", "else", "for", "while",
            ),
        )
    )
    out = df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        syms.cast("long").alias("__sym"),
        indent.cast("long").alias("indent_lines"),
        kws.cast("long").alias("kw_hits"),
    ).filter(F.col("n_chars") > 0)
    out = out.withColumn(
        "sym_milli",
        F.expr(
            "cast((cast(__sym as decimal(38,0)) * 2000 + n_chars)"
            " div (cast(n_chars as decimal(38,0)) * 2) as bigint)"
        ),
    )
    return out.select(
        id_col,
        "n_chars",
        "sym_milli",
        "indent_lines",
        "kw_hits",
        (
            ((F.col("sym_milli") >= 25) & (F.col("kw_hits") >= 2))
            | (F.col("indent_lines") >= 3)
        ).alias("is_code"),
    )


def code_detect_oracle_sql(
    corpus_sql: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB replay of :func:`code_detect` — same regexp counts, keyword
    set, half-up milli and integer rule."""
    toks = (
        f"list_filter(regexp_split_to_array(trim({text_col}), '\\s+'),"
        " x -> length(x) > 0)"
    )
    kws = "('def','return','import','function','class','const','var','if','else','for','while')"
    return f"""
WITH m AS (
  SELECT {id_col},
         CAST(length({text_col}) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all({text_col}, '[{{}}();=<>\\[\\]]')) AS BIGINT) AS sym,
         CAST(len(list_filter(regexp_split_to_array({text_col}, '\\n'),
                              l -> regexp_matches(l, '^(    |\\t)'))) AS BIGINT)
           AS indent_lines,
         CAST(len(list_filter({toks}, t -> t IN {kws})) AS BIGINT) AS kw_hits
  FROM ({corpus_sql}) WHERE length({text_col}) > 0
)
SELECT {id_col}, n_chars,
       CAST((CAST(sym AS HUGEINT) * 2000 + n_chars)
            // (CAST(n_chars AS HUGEINT) * 2) AS BIGINT) AS sym_milli,
       indent_lines, kw_hits,
       ((CAST(sym AS HUGEINT) * 2000 + n_chars)
            // (CAST(n_chars AS HUGEINT) * 2) >= 25 AND kw_hits >= 2)
         OR indent_lines >= 3 AS is_code
FROM m
"""


def ngram_novelty(
    df: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    ref_pred: Column | None = None,
) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus: the
    half-up ppm share of a document's distinct word-``shingle_k``-grams
    that the reference has never seen — the freshness gate of a
    continual-pretraining loop (a re-crawl whose novelty collapses is
    mostly re-downloaded old data; a spam burst shows as high-novelty
    low-quality mass).  The corpus-level complement of
    :func:`~fineo_readerator_spark.llm_ops.dedup.containment_pairs`'
    pairwise containment.

    Shares the exact shingle/hash pass with the dedup cascade
    (``dedup.shingle_hashes`` — same tokenization, same md5 leaf), so
    "seen" means precisely what minhash/containment mean by it.
    Documents with no tokens are ABSENT (no denominator); reference
    members score 0 by construction.

    Scale shape: one shingle pass per side; the membership check is ONE
    hash-keyed left-anti join (reference grams deduplicated first) —
    both sides shuffle on the 8-byte gram hash, AQE sizes the join;
    nothing is broadcast (the reference is corpus-scale, unlike
    decontaminate's bounded eval set).

    ``ref_pred``: when the reference is a pure row-subset of ``df``
    (``ref == df.filter(ref_pred)`` with the predicate expressed over
    this function's internal ``__id`` alias of ``id_col``), pass the
    predicate and the reference grams are carved out of the one shared
    checkpointed doc-side pass instead of re-tokenizing and re-hashing
    the subset from scratch — the whole reference-side shingle stage
    disappears (``ref`` itself is then ignored).  Values are identical
    by construction: the doc side applies the same liveness filter and
    the same distinct-per-doc shingle hashing the reference pass would."""
    from fineo_readerator_spark.llm_ops.dedup import _spread, shingle_hashes

    live = F.length(F.trim(F.col(text_col))) > 0
    # _spread: one small parquet file = one input partition serializes the
    # tokenize+hash pass on local masters (no-op on clusters); checkpoint:
    # doc_sh feeds BOTH the denominator aggregate and the anti-join, and
    # without the lineage cut Catalyst re-runs the shingle pass per subtree
    # (two corpus passes instead of one — the span_overlap_pairs lesson,
    # measured here as twin 1.25 s single-task stages)
    doc_sh = (
        _spread(df.filter(live).select(id_col, text_col))
        .select(
            F.col(id_col).alias("__id"),
            F.explode(shingle_hashes(F.col(text_col), shingle_k)).alias("__h"),
        )
        .localCheckpoint(eager=False)
    )
    if ref_pred is not None:
        ref_sh = doc_sh.filter(ref_pred).select("__h").distinct()
    else:
        ref_sh = (
            _spread(
                ref.filter(F.length(F.trim(F.col(text_col))) > 0).select(text_col)
            )
            .select(
                F.explode(shingle_hashes(F.col(text_col), shingle_k)).alias("__h")
            )
            .distinct()
        )
    # ONE aggregation, not (total agg) + (anti-join + agg) + rejoin: a LEFT
    # join against the distinct reference hashes marks each gram seen/unseen
    # in place, so a single per-doc aggregate yields both counts.  The old
    # three-branch shape also made the denominator aggregate a sibling stage
    # of the reference build — the Spark scheduler runs sibling stages
    # concurrently, and concurrent stages each recompute a lazily
    # checkpointed parent (measured: the shingle pass ran ~twice, twin
    # 32-task stages of 12.0 s and 11.6 s summed CPU).  With the join as the
    # only doc_sh consumer the broadcast build (ref_sh) materializes the
    # checkpoint first and the probe reads stored blocks — one corpus pass,
    # one exchange, same integers out: ref_sh is distinct so the left join
    # preserves row multiplicity, count(*) is the old denominator, and the
    # null-hit count is exactly the anti-join's row count (0 instead of the
    # old NULL for fully-seen docs — the old code coalesced it to 0 anyway).
    hits = ref_sh.select("__h", F.lit(1).alias("__hit"))
    return (
        doc_sh.join(hits, "__h", "left")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("__hit").isNull(), F.lit(1))).alias("__u"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("__u").cast("long").alias("n_unseen"),
            F.expr(
                "cast((cast(__u as decimal(38,0)) * 2000000 + n_grams)"
                " div (cast(n_grams as decimal(38,0)) * 2) as bigint)"
            ).alias("novelty_ppm"),
        )
    )


def ngram_novelty_oracle_sql(
    corpus_sql: str,
    ref_pred: str,
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> str:
    """DuckDB replay of :func:`ngram_novelty` for the
    registry case where the reference is a PREDICATE-selected subset of
    the same corpus (``ref_pred`` over the corpus columns) — the shingle
    CTEs instantiate once and the reference grams derive from the same
    exploded frame.  ``corpus_sql`` must yield doc_id, text."""
    from fineo_readerator_spark.llm_ops.dedup_oracles import _shingle_ctes

    return f"""
WITH __all AS (SELECT {id_col} AS doc_id, text FROM ({corpus_sql})
               WHERE length(trim(text)) > 0),
{_shingle_ctes('__all', shingle_k).lstrip()},
__g AS (SELECT doc_id, unnest(hs) AS h FROM __hs),
__ref AS (SELECT DISTINCT h FROM __g WHERE {ref_pred}),
__tot AS (SELECT doc_id, count(*) AS n_grams FROM __g GROUP BY 1),
__un AS (
  SELECT doc_id, count(*) AS u FROM __g
  WHERE h NOT IN (SELECT h FROM __ref) GROUP BY 1
)
SELECT t.doc_id AS {id_col}, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(u, 0) AS BIGINT) AS n_unseen,
       CAST((CAST(coalesce(u, 0) AS HUGEINT) * 2000000 + n_grams)
            // (CAST(n_grams AS HUGEINT) * 2) AS BIGINT) AS novelty_ppm
FROM __tot t LEFT JOIN __un ON __un.doc_id = t.doc_id
"""
