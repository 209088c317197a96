"""LLM-pipeline operator tests: pure-Python golden references for the
hash-based ops (the verification the DuckDB oracle can't express), recall
checks for the LSH scale paths, and multimodal plumbing contracts."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from fineo_readerator_spark.llm_ops.dedup import (
    _MERSENNE_P,
    _hash_params,
    exact_dedup,
    minhash_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from fineo_readerator_spark.llm_ops.multimodal import (
    attach_media_metadata,
    decode_and_featurize,
    sample_frames,
)
from fineo_readerator_spark.llm_ops.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)

CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),  # near dup of 0
    (3, "pack my box with five dozen liquor jugs"),
    (4, "sphinx of black quartz judge my vow"),
    (5, "the quick brown fox jumps over the lazy dog today"),  # near dup of 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


# --- pure-python reference implementations --------------------------------


def _md5_leaf_ref(s):
    """The shingle leaf hash in pure Python: the first 15 hex chars of md5
    as an integer, reduced mod the Mersenne prime like ``shingle_hashes``."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _MERSENNE_P


def _py_shingles(text, k=3):
    toks = [t for t in text.split() if t]
    if len(toks) >= k:
        return sorted({" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)})
    return [" ".join(toks)]


def test_minhash_signature_matches_python_reference(spark, docs):
    """The Catalyst single-pass aggregate computes exactly the classic
    per-permutation minimum."""
    sigs = {
        r.doc_id: list(r.sig)
        for r in docs.select("doc_id", minhash_signature(F.col("text"), 16, 3, seed=7).alias("sig")).collect()
    }
    params = _hash_params(16, seed=7)
    for doc_id, text in CORPUS:
        hs = [_md5_leaf_ref(s) for s in _py_shingles(text)]
        expected = [min((a * h + b) % _MERSENNE_P for h in hs) for a, b in params]
        assert sigs[doc_id] == expected, f"doc {doc_id}"


def test_exact_dedup_keeps_min_id(spark, docs):
    kept = sorted(r.doc_id for r in exact_dedup(docs, "doc_id").collect())
    assert kept == [0, 2, 3, 4, 5]  # 1 is the exact dup of 0


def test_minhash_pairs_find_near_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, "doc_id", num_hashes=64, bands=32, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup: signature identical
    assert (0, 2) in pairs or (0, 5) in pairs  # near dups surface
    assert all(a < b for a, b in pairs)


def test_minhash_dedup_clusters_transitively(spark, docs):
    kept = sorted(
        r.doc_id
        for r in minhash_dedup(docs, "doc_id", num_hashes=64, bands=32, threshold=0.5).collect()
    )
    # 0,1,2,5 form one near-dup cluster (via 0); 3 and 4 are unique
    assert kept == [0, 3, 4]


def test_simhash_dedup_exact_dups_collide(spark, docs):
    kept = sorted(r.doc_id for r in simhash_dedup(docs, "doc_id", max_hamming=2).collect())
    assert 1 not in kept  # identical text → identical simhash → merged
    assert {3, 4} <= set(kept)  # dissimilar docs survive


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", n=3, threshold=0.1, allow_ungrouped=True
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0
    # doc0 has 7 3-shingles, doc5 has 8; 7 shared → 7 / 8
    assert pairs[(0, 5)] == pytest.approx(7 / 8)


def test_ngram_jaccard_ungrouped_requires_opt_in(spark, docs):
    """The whole-corpus cartesian is a scale hazard; it must be explicit."""
    with pytest.raises(ValueError, match="cartesian"):
        ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.1)


def test_winnowing_null_and_empty_text(spark):
    """NULL text → NULL fingerprints; a ZERO-TOKEN document → EMPTY
    fingerprint set (no content, no spans — fingerprinting the rpad
    padding made every pair of empty docs a 'verbatim match', found by
    tests/test_textops_fuzz.py); short non-empty docs still pad so at
    least one k-gram exists."""
    from fineo_readerator_spark.llm_ops.textstats import winnowing_fingerprints

    df = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, None), (2, ""), (3, "  .,  "), (4, "hi"), (5, "hi")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.fps for r in winnowing_fingerprints(df).collect()}
    assert rows[1] is None
    assert rows[0]  # real text still fingerprints
    assert list(rows[2]) == [] and list(rows[3]) == []  # zero tokens: no spans
    assert rows[4] and rows[4] == rows[5]  # short docs pad and still collide


# --- similarity -----------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(0)
    rows = []
    for i in range(50):
        rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    # 50..52: tiny perturbations of vector 0 (true near-dups)
    base = rows[0][1]
    for j in range(3):
        rows.append((50 + j, [v + rng.gauss(0, 0.01) for v in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark, vectors):
    base = [float(v) for v in vectors.filter("vec_id = 0").first().embedding]
    top = cosine_topk(vectors.filter("vec_id != 0"), base, k=3).collect()
    assert {r.vec_id for r in top} == {50, 51, 52}  # the perturbed copies
    assert all(r.cos_sim > 0.99 for r in top)


def test_lsh_topk_is_subset_with_high_recall(spark, vectors):
    base = [float(v) for v in vectors.filter("vec_id = 0").first().embedding]
    exact = {r.vec_id for r in cosine_topk(vectors.filter("vec_id != 0"), base, k=3).collect()}
    approx = {
        r.vec_id
        for r in lsh_bucketed_topk(
            vectors.filter("vec_id != 0"), base, k=3, n_planes=8, max_probe_dist=2
        ).collect()
    }
    # near-identical vectors share (almost all) sign bits → found by probing
    assert exact <= approx | exact
    assert len(approx & exact) >= 2


def test_ivf_topk_full_probe_equals_brute_force(spark, vectors):
    from fineo_readerator_spark.llm_ops.similarity import ivf_topk

    base = [float(v) for v in vectors.filter("vec_id = 0").first().embedding]
    rest = vectors.filter("vec_id != 0")
    exact = [(r.vec_id, r.cos_sim) for r in cosine_topk(rest, base, k=5).collect()]
    # probing every cell degenerates to exact brute force
    full = [(r.vec_id, r.cos_sim) for r in ivf_topk(rest, base, k=5, n_centroids=4, n_probe=4).collect()]
    assert full == exact
    # partial probe still finds the near-dup family (they share vector 0's cell)
    part = {r.vec_id for r in ivf_topk(rest, base, k=3, n_centroids=4, n_probe=1).collect()}
    assert {50, 51, 52} <= part


def test_embedding_near_dup_pairs(spark, vectors):
    pairs = embedding_near_dup_pairs(vectors, threshold=0.99, n_planes=6).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # the perturbed family must pairwise match (0,50),(0,51),(0,52),(50,51)...
    assert (0, 50) in found and (0, 51) in found
    assert all(r.cos_sim >= 0.99 for r in pairs)


def test_ivf_layout_prunes_partitions(spark, tmp_path):
    """The cell-partitioned IVF layout must turn a probe into directory
    pruning: the scan's PartitionFilters carry the cell predicate and only
    the probed cells' files are read."""
    import random as _r

    rng = _r.Random(1)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)], i % 4) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, cell int")
    path = str(tmp_path / "ivf")
    df.repartition("cell").write.partitionBy("cell").parquet(path)

    layout = spark.read.parquet(path).filter(F.col("cell").isin([0, 1]))
    plan = layout._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    # only the probed directories' rows are scanned
    assert layout.count() == 20


def test_train_logistic_learns_separable_data(spark):
    """Full-batch GD on margin-separated 1-D data: the learned weight must
    point the right way and classify every example; NULL-feature/label rows
    are excluded; an all-NULL frame raises."""
    from fineo_readerator_spark.llm_ops.classifier import (
        score_logistic,
        train_logistic,
    )

    rows = [(i, -2.0 + 0.01 * i, -2.0 + 0.01 * i > 0.0) for i in range(400)]
    rows += [(900, None, True), (901, 1.0, None)]
    df = spark.createDataFrame(rows, "doc_id long, x double, y boolean")
    w = train_logistic(df, ["x"], "y", n_iters=5, lr=2.0)
    assert w[1] > 0  # slope learned in the right direction
    out = score_logistic(df.filter(F.col("x").isNotNull()), ["x"], w)
    acc = out.filter(
        (F.col("pred") == F.col("y")) | F.col("y").isNull()
    ).count() / out.count()
    assert acc > 0.95
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no rows"):
        train_logistic(df.filter(F.lit(False)), ["x"], "y")


def test_logistic_zero_features_rejected_on_both_engines(spark):
    """A bias-only model is outside the shared Spark/oracle domain (the
    oracle's rankable conjunction can't express it) — BOTH entry points
    must refuse rather than diverge."""
    from fineo_readerator_spark.llm_ops.classifier import (
        logistic_oracle_sql,
        train_logistic,
    )

    df = spark.createDataFrame([(1, True)], "doc_id long, y boolean")
    with pytest.raises(ValueError, match="at least one feature"):
        train_logistic(df, [], "y")
    with pytest.raises(ValueError, match="at least one feature"):
        logistic_oracle_sql("SELECT 1 AS doc_id, TRUE AS y", [], "y")


def test_logistic_oracle_parity_with_null_rows(spark):
    """Review regression: the oracle filtered NULL-label/feature rows out of
    SCORING (not just training), so its row set diverged from
    score_logistic on any dirty corpus.  Both engines must now train on
    rankable rows only but score EVERY row (NULL feature → NULL score)."""
    import duckdb
    import pyarrow as pa

    from fineo_readerator_spark.llm_ops.classifier import (
        logistic_oracle_sql,
        score_logistic,
        train_logistic,
    )

    rows = [(i, -1.0 + 0.25 * i, i % 2 == 0) for i in range(12)]
    rows += [(90, None, True), (91, 0.5, None), (92, None, None)]
    df = spark.createDataFrame(rows, "doc_id long, x double, y boolean")
    w = train_logistic(df, ["x"], "y", n_iters=2, lr=1.0)
    got = sorted(
        (r.doc_id, r.score, r.pred)
        for r in score_logistic(df, ["x"], w).select("doc_id", "score", "pred").collect()
    )

    con = duckdb.connect()
    tbl = pa.table(
        {
            "doc_id": [r[0] for r in rows],
            "x": [r[1] for r in rows],
            "y": [r[2] for r in rows],
        }
    )
    con.register("corpus", tbl)
    sql = logistic_oracle_sql(
        "SELECT doc_id, x, y FROM corpus", ["x"], "y", n_iters=2, lr=1.0
    )
    exp = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == exp
    by_id = {t[0]: t for t in got}
    assert by_id[90][1] is None and by_id[92][1] is None  # NULL feature rows kept
    assert by_id[91][1] is not None  # NULL label still SCORES (train-only filter)


def test_knn_multiprobe_never_worse_than_single(spark, vectors):
    """n_probe=2 searches a superset of each node's candidates, so every
    node's best neighbor must be at least as similar as under n_probe=1
    (boundary-recall recovery), and n_probe=1 keeps the original graph."""
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    single = {
        r.vec_id: r.cos_sim
        for r in knn_graph(vectors, k=1, n_centroids=4).collect()
    }
    multi = {
        r.vec_id: r.cos_sim
        for r in knn_graph(vectors, k=1, n_centroids=4, n_probe=2).collect()
    }
    assert set(single) <= set(multi)
    assert all(multi[i] >= single[i] for i in single)


def test_hard_negatives_label_contract(spark, vectors):
    """No negative shares its anchor's label, NULL-labeled rows appear as
    neither anchor nor negative, and every edge's similarity is bounded by
    the unlabeled graph's same-rank edge (the label filter can only remove
    candidates)."""
    from fineo_readerator_spark.llm_ops.similarity import hard_negatives

    labeled = vectors.withColumn(
        "label",
        F.when(F.col("vec_id") == 49, F.lit(None).cast("int")).otherwise(
            (F.col("vec_id") % 3).cast("int")
        ),
    )
    out = hard_negatives(labeled, k=2, n_centroids=4).collect()
    labels = {r.vec_id: r.vec_id % 3 for r in vectors.collect() if r.vec_id != 49}
    assert out, "mining produced no negatives"
    for r in out:
        assert r.vec_id != 49 and r.neg_id != 49  # NULL label excluded
        assert labels[r.vec_id] != labels[r.neg_id]


def test_hll_overlap_inclusion_exclusion(spark):
    """The register-merge overlap estimate tracks the true intersection on
    a known split, and identical sides estimate full overlap."""
    from fineo_readerator_spark.llm_ops.sketches import hll_overlap

    df = spark.range(0, 3000).select("id", F.concat(F.lit("k"), F.col("id")).alias("k"))
    a = df.filter(F.col("id") % 2 == 0)  # 1500 keys
    b = df.filter(F.col("id") % 3 == 0)  # 1000 keys, true ∩ = 500
    r = hll_overlap(a, F.col("k"), b, F.col("k")).first()
    assert abs(r.est_a - 1500) / 1500 < 0.25
    assert abs(r.est_b - 1000) / 1000 < 0.25
    assert r.est_union <= r.est_a + r.est_b
    assert abs(r.est_intersect - 500) / 500 < 0.5  # sizing signal, not exact
    same = hll_overlap(a, F.col("k"), a, F.col("k")).first()
    assert same.est_union == same.est_a == same.est_b
    assert abs(same.est_intersect - same.est_a) < 0.01


def test_bpe_merges_golden_walk(spark):
    """Hand-computed 3-merge walk: frequency-weighted pair counts, the
    (count DESC, left, right) tie-break, and merge application between
    rounds."""
    from fineo_readerator_spark.llm_ops.tokenizer import bpe_merges

    # words: 'aaab'x2, 'ab'x3 → step1 (a,b):5 beats (a,a):4; step2 ties
    # (a,a):2 vs (a,ab):2 → lexicographic winner (a,a); step3 (aa,ab):2
    df = spark.createDataFrame(
        [(1, "aaab ab ab"), (2, "aaab ab")], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_merges(df, n_merges=3).collect()]
    assert got == [
        (1, "a", "b", "ab", 5),
        (2, "a", "a", "aa", 2),
        (3, "aa", "ab", "aaab", 2),
    ]


def test_bpe_merge_application_is_left_to_right(spark):
    """'aaa' under merge (a,a) must fuse non-overlapping left-to-right to
    [aa, a] — so the next round's top pair is (aa, a), never (a, aa)."""
    from fineo_readerator_spark.llm_ops.tokenizer import bpe_merges

    df = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    got = [tuple(r) for r in bpe_merges(df, n_merges=2).collect()]
    assert got == [(1, "a", "a", "aa", 2), (2, "aa", "a", "aaa", 1)]
    # early stop: nothing left to merge after the word fully fuses
    assert len([tuple(r) for r in bpe_merges(df, n_merges=9).collect()]) == 2
    # canonical chained fusing: 'aaaa' -> [aa, aa], NOT [aa, a, a] — a
    # replacement must not consume the next pair's leading delimiter
    df4 = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    got4 = [tuple(r) for r in bpe_merges(df4, n_merges=2).collect()]
    assert got4 == [(1, "a", "a", "aa", 3), (2, "aa", "aa", "aaaa", 1)]


def test_bpe_training_job_count_independent_of_merges(spark):
    """The scale contract of the driver-local trainer: training cost is ONE
    Spark action (the capped word-freq collect) no matter the merge count —
    the merge loop must not issue per-merge cluster jobs.  (AQE may
    materialize the shuffle as its own job, so the assertion is on job
    GROWTH across merge counts plus a small absolute cap.)"""
    from fineo_readerator_spark.llm_ops.tokenizer import train_bpe

    df = spark.createDataFrame(
        [(i, "abra cadabra abra kadabra") for i in range(20)],
        "doc_id long, text string",
    )
    sc = spark.sparkContext

    def jobs_for(n_merges: int, tag: str) -> int:
        sc.setJobGroup(tag, "bpe-train-job-count")
        try:
            merges = train_bpe(df, n_merges=n_merges)
        finally:
            sc.setJobGroup(None, None)  # type: ignore[arg-type]
        assert len(merges) >= min(n_merges, 3)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    j1 = jobs_for(1, "bpe-j1")
    j8 = jobs_for(8, "bpe-j8")
    assert j8 == j1, f"merge count multiplied Spark jobs: {j1} -> {j8}"
    assert j1 <= 3, f"training ran {j1} jobs; expected one action"


def test_bpe_vocab_cap_binds_and_matches_oracle(spark):
    """With vocab_size smaller than the vocabulary, training sees only the
    top-K words by (freq DESC, word ASC) — rare words stop contributing
    pair counts, and the DuckDB oracle's __wcap CTE replays the identical
    cap (boundary ties broken by the word order)."""
    import duckdb

    from fineo_readerator_spark.llm_ops.tokenizer import (
        bpe_merges,
        bpe_merges_oracle_sql,
    )

    # 'zz'x3, 'ab'x2, 'ac'x2, 'qq'x1 — cap at 3 keeps {zz, ab, ac} (tie
    # at f=2 is inside the cap; 'qq' drops), so (q,q) must never win and
    # step2's winner comes from the capped table only
    docs = [(1, "zz zz zz ab ab"), (2, "ac ac qq")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [tuple(r) for r in bpe_merges(df, n_merges=3, vocab_size=3).collect()]
    assert all(m[1] != "q" for m in got)
    con = duckdb.connect()
    import pandas as pd

    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    exp = [
        tuple(r)
        for r in con.execute(
            bpe_merges_oracle_sql("SELECT text FROM documents", n_merges=3, vocab_size=3)
        ).fetchall()
    ]
    assert got == exp


def test_bpe_fertility_golden(spark):
    """Hand-computed fertility: train on the whole corpus, encode per
    group. Corpus 'ab ab cd' + 'ab' → merges (a,b) then (c,d); lang en
    has words {ab:2, cd:1} → 3 words, 3 tokens (all fully fused),
    fertility 1.0; lang de has {ab:1} → 1 word, 1 token."""
    from fineo_readerator_spark.llm_ops.tokenizer import bpe_fertility

    df = spark.createDataFrame(
        [(1, "ab ab cd", "en"), (2, "ab", "de")],
        "doc_id long, text string, lang string",
    )
    got = [tuple(r) for r in bpe_fertility(df, n_merges=2).collect()]
    assert got == [("de", 1, 1, 1.0), ("en", 3, 3, 1.0)]
    # with zero merges learned beyond exhaustion the chain passes through:
    # n_merges=9 exhausts after (a,b),(c,d) — same fully-fused result
    got9 = [tuple(r) for r in bpe_fertility(df, n_merges=9).collect()]
    assert got9 == got


def test_bpe_fertility_counts_fragments(spark):
    """An untrained-for language fragments: train dominated by 'ab', then
    'xyz' (lang fr) encodes to 3 single-char tokens → fertility 3.0."""
    from fineo_readerator_spark.llm_ops.tokenizer import bpe_fertility

    df = spark.createDataFrame(
        [(1, "ab ab ab", "en"), (2, "xyz", "fr")],
        "doc_id long, text string, lang string",
    )
    got = {r["lang"]: (r["n_words"], r["n_tokens"], r["fertility"])
           for r in bpe_fertility(df, n_merges=1).collect()}
    assert got["en"] == (3, 3, 1.0)
    assert got["fr"] == (1, 3, 3.0)


def test_label_propagation_stays_within_clusters(spark):
    """Seeded labels spread to their own cluster only (cell-bounded graph),
    seeds never change, and a node with no rankable embedding stays
    unlabeled."""
    import random as _r

    from fineo_readerator_spark.llm_ops.similarity import label_propagation

    rng = _r.Random(7)
    rows = []
    for i in range(1, 11):  # odd ids cluster at (1,0,...), even at (0,1,...)
        base = [1.0, 0.0] if i % 2 else [0.0, 1.0]
        rows.append((i, [v + rng.gauss(0, 0.01) for v in base] + [0.0] * 6))
    rows.append((99, None))  # unrankable
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seed = (
        F.when(F.col("vec_id") == 1, 7).when(F.col("vec_id") == 2, 9).cast("int")
    )
    out = {
        r.vec_id: r
        for r in label_propagation(df, seed, k=2, n_centroids=2, n_iters=2).collect()
    }
    assert out[1].label == 7 and out[1].origin == "seed"
    assert out[2].label == 9 and out[2].origin == "seed"
    assert out[99].label is None and out[99].origin == "unlabeled"
    for i in range(3, 11):
        if out[i].label is not None:
            assert out[i].label == (7 if i % 2 else 9)
            assert out[i].origin == "propagated"
    assert any(out[i].label is not None for i in range(3, 11))  # it spread


def test_ngram_diversity_separates_template_from_diverse(spark):
    """Templated text shows a collapsed type–token ratio vs diverse text,
    sub-n-token docs contribute nothing, and NULL group is its own group."""
    from fineo_readerator_spark.llm_ops.sampling import ngram_diversity

    rows = [(i, "t", "spam ham " * 20) for i in range(5)]  # one bigram pattern
    rows += [(10 + i, "d", " ".join(f"w{i}x{j}" for j in range(40))) for i in range(5)]
    rows += [(20, "t", "solo"), (21, None, "a b c")]  # 1-token doc; NULL group
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.lang: r for r in ngram_diversity(df).collect()}
    assert out["t"].ttr < 0.1 < out["d"].ttr  # template collapses, diverse doesn't
    assert out["t"].total_ngrams == 5 * 39  # the 1-token doc added nothing
    assert out[None].distinct_ngrams == 2  # NULL group ranked on its own


def test_token_entropy_bounds_and_absent_docs(spark):
    """Entropy is 0 for single-token spam, log2(k) for a uniform k-token
    doc, and zero-token/NULL docs are absent."""
    import math

    from fineo_readerator_spark.llm_ops.textstats import token_entropy

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "a b c d e f g h"),  # uniform over 8 types
            (3, "   "),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in token_entropy(df).collect()}
    assert set(out) == {1, 2}
    assert out[1].entropy == 0.0 and out[1].n_types == 1 and out[1].n_tokens == 4
    assert abs(out[2].entropy - math.log2(8)) < 1e-6


def test_dist_match_null_bucket_and_absent_bucket(spark):
    """NULL is a first-class bucket (null-safe rate join, matching the
    oracle's IS NOT DISTINCT FROM): NULL-bucket corpus rows keep when the
    target contains NULL-bucket rows; buckets absent from the target drop
    entirely; an empty target keeps nothing."""
    from fineo_readerator_spark.llm_ops.sampling import distribution_match_sample

    corpus = spark.createDataFrame(
        [(i, None if i % 3 == 0 else ("en" if i % 3 == 1 else "zz")) for i in range(90)],
        "doc_id long, lang string",
    )
    target = corpus.filter(F.col("lang").isNull() | (F.col("lang") == "en"))
    kept = distribution_match_sample(corpus, target, "lang", "doc_id").collect()
    langs = {r.lang for r in kept}
    assert None in langs and "en" in langs  # NULL bucket rate-matched
    assert "zz" not in langs  # absent from target -> dropped
    empty = distribution_match_sample(
        corpus, corpus.filter(F.lit(False)), "lang", "doc_id"
    )
    assert empty.count() == 0


def test_quality_funnel_first_fail_attribution(spark):
    """Every dropped row is attributed to its FIRST failing gate, a NULL
    gate verdict counts as FAIL, and reached/dropped/passed telescope."""
    from fineo_readerator_spark.llm_ops.textstats import quality_funnel

    df = spark.createDataFrame(
        [(1, 10, True), (2, 10, None), (3, 99, False), (4, 99, True), (5, None, True)],
        "id long, x long, ok boolean",
    )
    gates = [("big_x", F.col("x") >= 50), ("is_ok", F.col("ok"))]
    rows = {r.stage: r for r in quality_funnel(df, gates).collect()}
    # ids 1,2 fail x>=50; id 5's NULL x is a FAIL — all three die at stage 1
    assert (rows[1].n_reached, rows[1].n_dropped, rows[1].n_passed) == (5, 3, 2)
    # ids 3,4 reach stage 2; 3 fails ok=False (2's NULL ok never got here)
    assert (rows[2].n_reached, rows[2].n_dropped, rows[2].n_passed) == (2, 1, 1)
    with pytest.raises(ValueError):
        quality_funnel(df, [])


def test_boilerplate_strip_removes_template_from_all_docs(spark):
    """The shared footer is removed from EVERY doc in the group (no
    first-occurrence survivor), a pure-template doc disappears, a lone doc
    in another group keeps its copy (min_docs), and NULL group is its own
    group."""
    from fineo_readerator_spark.llm_ops.dedup import boilerplate_strip

    foot = "subscribe to our newsletter now"
    df = spark.createDataFrame(
        [
            (1, "a", f"alpha beta gamma delta eps {foot}"),
            (2, "a", f"zeta eta theta iota kappa {foot}"),
            (3, "a", f"lambda mu nu xi omicron {foot}"),
            (4, "a", f"pi rho sigma tau upsilon {foot}"),
            (5, "a", foot),
            (6, "b", f"one two three four five {foot}"),
            (7, None, f"six seven eight nine ten {foot}"),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r.doc_id: r
        for r in boilerplate_strip(
            df, "doc_id", "source", para_tokens=5, min_docs=2, min_share_pct=50
        ).collect()
    }
    assert 5 not in out  # pure template vanishes
    assert out[1].kept_text == "alpha beta gamma delta eps"
    assert all(out[i].n_boiler == 1 and out[i].n_kept == 1 for i in (1, 2, 3, 4))
    assert out[6].n_boiler == 0 and foot in out[6].kept_text  # lone doc in 'b'
    assert out[7].n_boiler == 0 and foot in out[7].kept_text  # NULL group


def test_ivf_incremental_append_matches_scratch_build(spark):
    """The incrementally-appended layout is row-identical to a from-scratch
    assignment against the persisted BASE codebook, the codebook contains
    only base ids, and a second ensure is a fingerprint-fresh no-op."""
    import json
    from pathlib import Path

    from fineo_readerator_spark.llm_ops.dedup import _fs_read_text
    from fineo_readerator_spark.llm_ops.similarity import seeded_cell_expr
    from fineo_readerator_spark.plans.llm_queries import ensure_ivf_layout_incremental

    sf = "/root/testdata/sf0.001"
    path = ensure_ivf_layout_incremental(spark, sf)
    cents = json.loads(_fs_read_text(spark, f"{path}/_centroids.json"))
    cents = [(int(c), [float(x) for x in v]) for c, v in cents]
    assert len(cents) == 16 and all(cid % 5 != 4 and cid != 0 for cid, _ in cents)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").filter(F.col("vec_id") != 0)
    expect = emb.withColumn("cell", seeded_cell_expr("embedding", cents))
    got = spark.read.parquet(path)
    assert got.count() == emb.count()
    assert (
        got.select("vec_id", "cell").exceptAll(expect.select("vec_id", "cell")).count()
        == 0
    )
    stamp = Path(path) / "_src_fingerprint.json"
    m = stamp.stat().st_mtime
    assert ensure_ivf_layout_incremental(spark, sf) == path
    assert stamp.stat().st_mtime == m
    # the probe over the appended store is still a partition-pruned read
    from fineo_readerator_spark.plans.llm_queries import s_ann_ivf_append

    out = s_ann_ivf_append(spark, sf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]
    assert out.count() == 10


def test_cluster_quality_separation_vs_cohesion(spark, vectors):
    """The quality report's invariants on well-separated toy data: sizes sum
    to the corpus, cohesion is non-negative, and the planted near-copy
    family's cluster coheres far tighter than it separates."""
    from fineo_readerator_spark.plans.llm_queries import s_cluster_quality  # noqa: F401  (registry wiring)
    from fineo_readerator_spark.llm_ops.similarity import kmeans_refine

    cents, assigned = kmeans_refine(vectors, n_centroids=8, n_iters=2)
    g = assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n"), F.avg("sq_dist").alias("coh")
    )
    rows = g.collect()
    assert sum(r["n"] for r in rows) == 53
    assert all(r["coh"] >= 0 for r in rows)
    fam = {r.vec_id: r.cluster_id for r in assigned.collect()}
    assert len({fam[i] for i in (0, 50, 51, 52)}) == 1


def test_refined_ivf_layout_persists_centroids(spark):
    """The kmeans-refined IVF layout must persist its centroids as store
    meta and serve probes from that meta — two ensure calls return the
    IDENTICAL centroid list without rebuilding (fingerprint-fresh), and the
    probe path partition-prunes on the refined cells."""
    from pathlib import Path

    from fineo_readerator_spark.plans.llm_queries import (
        ensure_ivf_layout_refined,
        s_ann_ivf_kmeans,
    )

    sf = "/root/testdata/sf0.001"
    path1, cents1 = ensure_ivf_layout_refined(spark, sf)
    stamp_mtime = (Path(path1) / "_src_fingerprint.json").stat().st_mtime
    path2, cents2 = ensure_ivf_layout_refined(spark, sf)
    assert path1 == path2 and cents1 == cents2
    assert (Path(path1) / "_src_fingerprint.json").stat().st_mtime == stamp_mtime
    out = s_ann_ivf_kmeans(spark, sf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    assert out.count() == 10


def test_knn_graph_layout_reattach_and_staleness(spark, tmp_path):
    """The persisted k-NN graph layout: consumers re-attach to stored edge
    rows (plan has NO codebook argmin / in-cell join / top-k window), the
    build is skipped while fresh, and a source regeneration OR parameter
    change rebuilds (fingerprint stamp + _params.json meta)."""
    import random as _random
    from pathlib import Path

    from fineo_readerator_spark.llm_ops.similarity import pagerank
    from fineo_readerator_spark.plans.llm_queries import ensure_knn_graph_layout

    rng = _random.Random(7)

    def write_corpus(n):
        rows = [(i, [rng.gauss(0, 1) for _ in range(8)], i % 3) for i in range(n)]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    write_corpus(40)
    p1 = ensure_knn_graph_layout(spark, str(tmp_path), k=2, n_centroids=4)
    stamp = (Path(p1) / "_src_fingerprint.json").stat().st_mtime_ns
    # fresh: second ensure is a no-op (stamp untouched)
    assert ensure_knn_graph_layout(spark, str(tmp_path), k=2, n_centroids=4) == p1
    assert (Path(p1) / "_src_fingerprint.json").stat().st_mtime_ns == stamp

    # the re-attached consumer's plan reads stored edges only
    edges = spark.read.parquet(p1).select("vec_id", "nbr_id")
    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    ranked = pagerank(emb, n_iters=1, graph=edges)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "array_min" not in plan and "named_struct" not in plan
    assert ranked.count() == 40

    # a different parameter tuple is a DIFFERENT layout slot — the k=2
    # store is untouched (no alternate-param clobber/rebuild thrash), and
    # both remain attachable simultaneously
    p2 = ensure_knn_graph_layout(spark, str(tmp_path), k=3, n_centroids=4)
    assert p2 != p1
    assert (Path(p1) / "_src_fingerprint.json").stat().st_mtime_ns == stamp
    assert (
        spark.read.parquet(p2).groupBy("vec_id").count().agg(F.max("count")).first()[0]
        == 3
    )

    # source regeneration rebuilds (fingerprint mismatch)
    stamp2 = (Path(p2) / "_src_fingerprint.json").stat().st_mtime_ns
    write_corpus(45)
    p3 = ensure_knn_graph_layout(spark, str(tmp_path), k=3, n_centroids=4)
    assert p3 == p2
    assert (Path(p3) / "_src_fingerprint.json").stat().st_mtime_ns != stamp2
    assert spark.read.parquet(p3).select("vec_id").distinct().count() == 45

    # the LSH default (n_centroids=None) gets its OWN slot; an explicit
    # n_planes pins a distinct one; and a no-op n_planes on the seeded
    # path is normalized out (same slot, stamp untouched — no alternating
    # params-mismatch rebuild)
    p4 = ensure_knn_graph_layout(spark, str(tmp_path), k=2, n_centroids=None)
    p5 = ensure_knn_graph_layout(spark, str(tmp_path), k=2, n_centroids=None, n_planes=2)
    assert len({p1, p4, p5}) == 3
    assert spark.read.parquet(p4).select("vec_id").distinct().count() == 45
    stamp3 = (Path(p3) / "_src_fingerprint.json").stat().st_mtime_ns
    assert (
        ensure_knn_graph_layout(spark, str(tmp_path), k=3, n_centroids=4, n_planes=2)
        == p3
    )
    assert (Path(p3) / "_src_fingerprint.json").stat().st_mtime_ns == stamp3


def test_graph_layout_query_plan_reads_stored_edges(spark):
    """s_graph_layout (the registry consumer) must not rebuild the graph:
    after ensure, its executed plan carries none of the build machinery."""
    from fineo_readerator_spark.plans.llm_queries import s_graph_layout

    df = s_graph_layout(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "array_min" not in plan and "named_struct" not in plan
    assert df.count() > 0


def test_semantic_dedup_undersized_codebook_raises(spark, vectors):
    """An undersized codebook on a large frame must raise, not silently run
    an O((N/cells)²) in-cell cartesian (VERDICT r4 'scale trap')."""
    from fineo_readerator_spark.llm_ops.similarity import semantic_dedup

    with pytest.raises(ValueError, match="rows/cell"):
        semantic_dedup(
            vectors, "vec_id", "embedding", n_centroids=2, max_rows_per_cell=10
        )
    # explicit opt-in still runs
    kept = semantic_dedup(
        vectors,
        "vec_id",
        "embedding",
        n_centroids=2,
        max_rows_per_cell=10,
        allow_oversized_cells=True,
        threshold=0.99,
    )
    assert kept.count() > 0


def test_semantic_dedup_default_is_lsh(spark, vectors):
    """semantic_dedup with no n_centroids delegates to the hyperplane-LSH
    path (the production shape at scale): same kept set as calling
    semantic_dedup_lsh directly, and an explicit literal codebook keeps
    the seeded path (the oracle-pinning escape hatch)."""
    from fineo_readerator_spark.llm_ops.similarity import (
        semantic_dedup,
        semantic_dedup_lsh,
    )

    corpus = vectors.select("vec_id", "embedding")
    kept_default = semantic_dedup(
        corpus, "vec_id", "embedding", threshold=0.999, target_rows_per_cell=8
    )
    kept_lsh = semantic_dedup_lsh(
        corpus, "vec_id", "embedding", threshold=0.999, target_rows_per_cell=8
    )
    assert (
        sorted(r.vec_id for r in kept_default.collect())
        == sorted(r.vec_id for r in kept_lsh.collect())
    )
    # the seeded path survives behind an explicit codebook
    kept_seeded = semantic_dedup(
        corpus, "vec_id", "embedding", n_centroids=4, threshold=0.999
    )
    assert kept_seeded.count() > 0


def test_semantic_dedup_default_keeps_unrankable_rows(spark, vectors):
    """NULL and wrong-dimension vectors cannot dominate or be dominated —
    the default (LSH-delegating) path must KEEP them like the pinned
    seeded path does (with a NULL cell), never silently drop them."""
    from fineo_readerator_spark.llm_ops.similarity import semantic_dedup

    corpus = vectors.select("vec_id", "embedding").unionAll(
        spark.createDataFrame(
            [(900, None), (901, [1.0, 2.0])],
            "vec_id long, embedding array<float>",
        )
    )
    kept = semantic_dedup(corpus, "vec_id", "embedding", threshold=0.999)
    by_id = {r.vec_id: r.cell for r in kept.collect()}
    assert 900 in by_id and by_id[900] is None
    assert 901 in by_id and by_id[901] is None


def test_knn_graph_default_auto_sizes_cells(spark, vectors):
    """With no n_centroids the graph auto-sizes from the rankable count —
    a small target forces multiple LSH buckets and every edge stays
    in-cell (neighbor counts bounded by cell population, not corpus)."""
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    g = knn_graph(vectors, k=50, target_rows_per_cell=5)
    per_src = [r["n"] for r in g.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n")).collect()]
    n_rows = vectors.count()
    # auto: ceil(log2(53/5)) = 4 hyperplanes → up to 16 signature buckets;
    # occupancy is skewed but every node's candidate set is its bucket,
    # far below the 50-neighbor full graph a single cell would produce
    assert per_src and max(per_src) < 20 < n_rows
    # explicit single-cell override still degenerates to the full graph
    # (every node fills its k=50 slots out of the 52 corpus candidates)
    g1 = knn_graph(vectors, k=50, n_centroids=1, allow_oversized_cells=True)
    assert g1.groupBy("vec_id").count().agg(F.max("count")).first()[0] == 50


def test_knn_graph_lsh_edges_stay_in_signature_buckets(spark, vectors):
    """The DEFAULT (LSH) graph's single-probe edges must connect nodes with
    IDENTICAL hyperplane signatures — the primary probe is bit-identical
    to hyperplane_signature — and a near-duplicate pair sharing a bucket
    must find each other."""
    from fineo_readerator_spark.llm_ops.similarity import (
        _hyperplanes,
        hyperplane_signature,
        knn_graph,
    )

    g = knn_graph(vectors, k=3, n_planes=3, n_probe=1)
    planes = _hyperplanes(16, 3, 42)
    sigs = {
        r.vec_id: r.sig
        for r in vectors.select(
            "vec_id", hyperplane_signature(F.col("embedding"), planes).alias("sig")
        ).collect()
    }
    edges = g.collect()
    assert edges
    assert all(sigs[r.vec_id] == sigs[r.nbr_id] for r in edges)
    # vec 50..52 are tiny perturbations of vec 0 → same sign bits, so the
    # near-dup cluster is connected in-bucket
    nbrs_of_0 = {r.nbr_id for r in edges if r.vec_id == 0}
    assert nbrs_of_0 & {50, 51, 52}


def test_knn_graph_lsh_plan_is_codebook_free(spark, vectors):
    """The LSH graph's executed plan must contain no nearest-of-C codebook
    machinery (array_min over named_struct distances — the O(N·C)
    assignment the LSH default exists to avoid): the signature assignment
    is checkpointed, so downstream consumers see stored rows only."""
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    g = knn_graph(vectors, k=2, n_planes=3)
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "array_min" not in plan and "named_struct" not in plan


def test_in_cell_broadcast_is_size_gated(spark, vectors, monkeypatch):
    """The local-master broadcast of the in-cell build side is gated on the
    MEASURED row count, not the master string alone (r11 verdict): above
    ``_LOCAL_BROADCAST_MAX_ROWS`` the operator falls back to the cell-keyed
    shuffle join, with identical results."""
    from fineo_readerator_spark.llm_ops import similarity
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    g_bc = knn_graph(vectors, k=2, n_planes=3)
    plan_bc = g_bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_bc

    monkeypatch.setattr(similarity, "_LOCAL_BROADCAST_MAX_ROWS", 0)
    g_sj = knn_graph(vectors, k=2, n_planes=3)
    plan_sj = g_sj._jdf.queryExecution().executedPlan().toString()
    # the in-cell join must no longer be a planner-requested broadcast (AQE
    # may still convert it at runtime from measured sizes — that is fine)
    assert "BroadcastHashJoin" not in plan_sj
    assert sorted(map(tuple, g_bc.collect())) == sorted(
        map(tuple, g_sj.collect())
    )


def test_knn_graph_lsh_multiprobe_never_worse(spark, vectors):
    """LSH multiprobe (lowest-margin bit flip) searches a superset of each
    node's single-probe candidates: every node's best neighbor is at least
    as similar, and the probe count is validated against n_planes."""
    import pytest

    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    single = {
        r.vec_id: r.cos_sim
        for r in knn_graph(vectors, k=1, n_planes=3, n_probe=1).collect()
    }
    multi = {
        r.vec_id: r.cos_sim
        for r in knn_graph(vectors, k=1, n_planes=3, n_probe=2).collect()
    }
    assert set(single) <= set(multi)
    assert all(multi[i] >= single[i] for i in single)
    with pytest.raises(ValueError, match="exceeds n_planes"):
        knn_graph(vectors, k=1, n_planes=2, n_probe=4)


def test_knn_graph_lsh_gates_oversized_buckets(spark, vectors):
    """The LSH graph gates on MEASURED bucket occupancy (hyperplane skew),
    mirroring semantic_dedup_lsh, with the same explicit opt-in."""
    import pytest

    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    with pytest.raises(ValueError, match="knn_graph cell sizing"):
        knn_graph(vectors, k=1, n_planes=1, max_rows_per_cell=10)
    g = knn_graph(
        vectors, k=1, n_planes=1, max_rows_per_cell=10,
        allow_oversized_cells=True,
    )
    assert g.count() > 0


def test_semantic_dedup_lsh_dominates_duplicates(spark, vectors):
    """Hyperplane-bucketed SemDeDup: an exact duplicate lands in its
    original's signature bucket (identical sign bits) and must be
    dominated away; auto n_planes sizes buckets from the corpus count."""
    from fineo_readerator_spark.llm_ops.similarity import semantic_dedup_lsh

    dup = vectors.filter(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    corpus = vectors.select("vec_id", "embedding").unionAll(dup)
    kept = semantic_dedup_lsh(corpus, "vec_id", "embedding", threshold=0.999)
    ids = {r.vec_id for r in kept.collect()}
    assert 7 in ids and 1007 not in ids
    # auto-sized planes: ceil(log2(54/256)) floors at 1 → >= 2 buckets seen
    # only when the corpus outgrows the target; with a tiny target the
    # buckets must multiply
    kept_small = semantic_dedup_lsh(
        corpus, "vec_id", "embedding", threshold=0.999, target_rows_per_cell=4
    )
    assert kept_small.select("cell").distinct().count() > 2


def test_semantic_dedup_lsh_gates_oversized_buckets(spark, vectors):
    """The LSH variant gates on MEASURED bucket occupancy — an embedding
    distribution whose sign bits collapse (here: one plane over a small
    corpus) must raise before the O(rows²) in-cell join, exactly like the
    seeded sibling's estimate gate, with the same explicit opt-in."""
    from fineo_readerator_spark.llm_ops.similarity import semantic_dedup_lsh

    corpus = vectors.select("vec_id", "embedding")
    with pytest.raises(ValueError, match="semantic_dedup_lsh cell sizing"):
        semantic_dedup_lsh(
            corpus, "vec_id", "embedding", n_planes=1, max_rows_per_cell=10
        )
    # explicit opt-in runs the oversized join
    kept = semantic_dedup_lsh(
        corpus, "vec_id", "embedding", n_planes=1, max_rows_per_cell=10,
        allow_oversized_cells=True,
    )
    assert kept.count() > 0


def test_recall_audit_rejects_graph_k_mismatch(spark, vectors):
    """Auditing a stored graph at a different k than it was built with
    silently inflates/deflates recall — the consumer must refuse instead
    of re-deriving nothing (derived-store rule)."""
    from fineo_readerator_spark.llm_ops.similarity import (
        knn_graph,
        knn_recall_audit,
    )

    g5 = knn_graph(vectors, k=5, n_centroids=2, allow_oversized_cells=True)
    with pytest.raises(ValueError, match="max out-degree is 5"):
        knn_recall_audit(vectors, sample_mod=10, k=3, graph=g5)
    # matching k audits fine
    out = knn_recall_audit(vectors, sample_mod=10, k=5, graph=g5)
    assert out.count() > 0
    # authoritative path: built_k from the layout's _params.json beats
    # degree inference in both directions
    with pytest.raises(ValueError, match="built with k=5"):
        knn_recall_audit(vectors, sample_mod=10, k=3, graph=g5, built_k=5)
    assert knn_recall_audit(vectors, sample_mod=10, k=5, graph=g5, built_k=5).count() > 0


def test_round_half_up_matches_spark_round_at_dyadic_halves(spark):
    """r8 ADVICE (low): driver-side Python round() is banker's; F.round is
    HALF_UP over the shortest decimal repr.  They disagree exactly at
    dyadic decimal halves (1/1024 has a 10-digit expansion ending in 5) —
    _round_half_up must side with F.round there."""
    from fineo_readerator_spark.llm_ops.similarity import _round_half_up

    x = 1.0 / 1024.0  # 0.0009765625 exactly
    assert round(x, 9) == 0.000976562  # banker's: ties to even
    assert _round_half_up(x) == 0.000976563
    got = spark.createDataFrame([(x,)], "v double").selectExpr("round(v, 9) r").first().r
    assert got == _round_half_up(x)
    # and agreement away from ties
    for y in (0.1234567894, -0.5, 1.5e-10, -1.0 / 1024.0):
        gr = spark.createDataFrame([(y,)], "v double").selectExpr("round(v, 9) r").first().r
        assert gr == _round_half_up(y), y
    # huge magnitudes must not raise (default decimal context overflows at
    # ~1e19 significant digits; r9 review) and must round-trip unchanged
    for y in (1e19, -3.5e20, 1.7976931348623157e308):
        assert _round_half_up(y) == y


def test_recall_audit_accepts_sparse_graph_below_k(spark):
    """r8 ADVICE (low): on a sparse corpus no cell holds k+1 rankable rows,
    so a correctly built graph's max out-degree is < k — the audit must
    NOT raise there (the old == check did)."""
    from fineo_readerator_spark.llm_ops.similarity import (
        knn_graph,
        knn_recall_audit,
    )

    # 3 vectors, k=5: out-degree can never exceed 2
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0]), (5, [0.9, 0.1]), (10, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    g = knn_graph(tiny, k=5, n_centroids=1, allow_oversized_cells=True)
    out = knn_recall_audit(tiny, sample_mod=5, k=5, graph=g)
    assert out.count() > 0
    # but an explicit smaller built_k still refuses a k mismatch
    with pytest.raises(ValueError, match="built with k=2"):
        knn_recall_audit(tiny, sample_mod=5, k=5, graph=g, built_k=2)


def test_bpe_incremental_trainer_matches_naive_recount():
    """The incremental merge loop (pair-count deltas + lazy heap) must pick
    the EXACT winner sequence of a full per-step recount — the equivalence
    the DuckDB oracle's unrolled replay depends on."""
    import random

    from fineo_readerator_spark.llm_ops.tokenizer import (
        _fuse,
        _train_from_freq_rows,
    )

    def naive(freq_rows, n_merges):
        vocab = [(list(w), int(f)) for w, f in freq_rows]
        out = []
        for step in range(1, n_merges + 1):
            counts = {}
            for syms, f in vocab:
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + f
            if not counts:
                break
            (l, r), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            out.append((step, l, r, l + r, c))
            vocab = [(_fuse(s, l, r), f) for s, f in vocab]
        return out

    rng = random.Random(7)
    for _ in range(120):
        rows, seen = [], set()
        for _ in range(rng.randint(0, 12)):
            w = "".join(rng.choice("abc") for _ in range(rng.randint(1, 8)))
            if w not in seen:
                seen.add(w)
                rows.append((w, rng.randint(1, 5)))
        m = rng.randint(1, 10)
        assert _train_from_freq_rows(rows, m) == naive(rows, m)


def test_keyword_topk_ranks_rare_terms_first(spark):
    """Hand-computed: the term unique to one doc out-idfs the
    corpus-universal one; ties break by term ASC."""
    from fineo_readerator_spark.llm_ops.retrieval import keyword_topk

    docs = spark.createDataFrame(
        [
            (1, "common rare common"),
            (2, "common common"),
            (3, "common zebra"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["rank"]): (r["term"], r["score"])
        for r in keyword_topk(docs, "doc_id", "text", k=2).collect()
    }
    # N=3 docs (NULL text excluded); idf(common)=round(ln(4/4)*1e6)=0,
    # idf(rare)=idf(zebra)=round(ln(4/2)*1e6)=693147
    assert out[(1, 1)] == ("rare", 693147)
    assert out[(1, 2)] == ("common", 0)
    assert out[(3, 1)] == ("zebra", 693147)
    # doc 2 has only zero-score terms; still ranked (term ASC on ties)
    assert out[(2, 1)] == ("common", 0)
    assert (4, 1) not in out
    with pytest.raises(ValueError, match="k must be"):
        keyword_topk(docs, k=0)


def test_span_corrupt_round_trips(spark):
    """Substituting each input sentinel with its target span must rebuild
    the original token sequence exactly, for every document."""
    import re

    from fineo_readerator_spark.llm_ops.sampling import span_corrupt

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    out = span_corrupt(docs, "doc_id", "text", mask_denom=3).collect()
    assert len(out) == sum(1 for t in orig.values() if t and t.split())
    saw_masked = 0
    for r in out:
        spans = {}
        for seg in re.split(r"(?=<extra_id_\d+>)", r["target_text"]):
            if not seg:
                continue
            m = re.match(r"<extra_id_(\d+)> (.*?)\s*$", seg)
            assert m, seg
            spans[int(m.group(1))] = m.group(2)
        assert len(spans) == r["n_spans"]
        assert sum(len(s.split()) for s in spans.values()) == r["n_masked"]
        rebuilt = []
        for tok in r["input_text"].split():
            m = re.fullmatch(r"<extra_id_(\d+)>", tok)
            if m:
                rebuilt.extend(spans[int(m.group(1))].split())
            else:
                rebuilt.append(tok)
        assert rebuilt == orig[r["doc_id"]].split()
        saw_masked += r["n_masked"]
    assert saw_masked > 0  # denom=3 masks ~1/3 of all tokens


def test_semantic_layout_reuses_cells(spark):
    """The layout-backed semantic dedup must read cells from the stored
    partition column — no codebook argmin recompute in the plan."""
    from fineo_readerator_spark.plans.llm_queries import d_semantic_dedup_layout

    df = d_semantic_dedup_layout(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the seeded-codebook assignment expression is an array_min over
    # named_structs of distances; its absence proves the cell column came
    # from the materialized layout, not a per-query recompute
    assert "array_min" not in plan and "named_struct" not in plan
    assert df.count() > 0


def test_semantic_dedup_drops_dominated_keeps_lowest(spark, vectors):
    from fineo_readerator_spark.llm_ops.similarity import semantic_dedup

    kept = semantic_dedup(vectors, "vec_id", "embedding", n_centroids=4, threshold=0.99)
    ids = {r.vec_id for r in kept.collect()}
    # the perturbed copies of vector 0 share its cell at cosine > 0.99:
    # only the lowest id of the family survives
    assert 0 in ids and not {50, 51, 52} & ids
    # dissimilar vectors are untouched
    assert {1, 2, 3} <= ids
    # kept rows carry their semantic cell for downstream stratification
    assert "cell" in kept.columns


def test_ann_batch_topk_matches_single_query(spark, vectors):
    """The batch path must agree with cosine_topk run per query, and the
    corpus side must broadcast-join (scan once, no corpus shuffle)."""
    from fineo_readerator_spark.llm_ops.similarity import ann_batch_topk

    queries = vectors.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = vectors.filter(F.col("vec_id") >= 2)
    batch = ann_batch_topk(corpus, queries, k=3)
    got = {
        qid: [(r.vec_id, r.cos_sim) for r in rows]
        for qid, rows in (
            (q, sorted((r for r in batch.collect() if r.query_id == q), key=lambda r: r.rank))
            for q in (0, 1)
        )
    }
    for q in (0, 1):
        qv = [float(v) for v in vectors.filter(F.col("vec_id") == q).first()["embedding"]]
        single = [(r.vec_id, r.cos_sim) for r in cosine_topk(corpus, qv, k=3).collect()]
        assert got[q] == single
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan  # partial top-k before the exchange


def test_write_training_shards_layout(spark, docs, tmp_path):
    """The shard writer produces one directory per shard with rows key-sorted
    inside, matching the manifest exactly, and a re-run reproduces identical
    shard contents."""
    from fineo_readerator_spark.llm_ops.sampling import (
        shard_for_training,
        write_training_shards,
    )

    path = str(tmp_path / "shards")
    write_training_shards(docs, "doc_id", n_shards=3, path=path)
    out = spark.read.parquet(path)
    manifest = {
        (r.doc_id, r.shard, r.shard_pos)
        for r in shard_for_training(docs, "doc_id", 3).collect()
    }
    assert {(r.doc_id, r.shard, r.shard_pos) for r in out.collect()} == manifest
    # in-file order is by key within each shard directory
    for shard in {s for _, s, _ in manifest}:
        rows = spark.read.parquet(f"{path}/shard={shard}").collect()
        # no shuffle on read of a single file: collect order == file order
        ids = [r.doc_id for r in rows]
        assert ids == sorted(ids)
    # re-run reproduces identical contents
    write_training_shards(docs.repartition(5), "doc_id", n_shards=3, path=path)
    assert {
        (r.doc_id, r.shard, r.shard_pos) for r in spark.read.parquet(path).collect()
    } == manifest


def test_shard_for_training_deterministic(spark, docs):
    """Shard assignment survives repartitioning bit-for-bit and positions are
    a contiguous 1..n sequence per shard."""
    from fineo_readerator_spark.llm_ops.sampling import shard_for_training

    a = shard_for_training(docs, "doc_id", n_shards=4).collect()
    b = shard_for_training(docs.repartition(7), "doc_id", n_shards=4).collect()
    assert {(r.doc_id, r.shard, r.shard_pos) for r in a} == {
        (r.doc_id, r.shard, r.shard_pos) for r in b
    }
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.shard_pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))


# --- multimodal plumbing --------------------------------------------------


@pytest.fixture(scope="module")
def media(spark):
    rows = [(i, bytes(hashlib.sha256(bytes([i])).digest() * 8)) for i in range(4)]
    return spark.createDataFrame(rows, "id long, payload binary")


def test_media_metadata(spark, media):
    out = attach_media_metadata(media, "payload", "image", "png").collect()
    for r in out:
        assert r.media_meta.media_type == "image"
        assert r.media_meta.size_bytes == 256
        assert len(r.media_meta.content_hash) == 32


def test_decode_featurize_stub_contract(spark, media):
    out = decode_and_featurize(media, "id", "payload").collect()
    assert len(out) == 4
    for r in out:
        assert 16 <= r.width < 80 and 16 <= r.height < 80
        assert len(r.features) == 8 and all(0.0 <= f <= 1.0 for f in r.features)
    # deterministic: same payload → same features
    again = decode_and_featurize(media, "id", "payload").collect()
    assert sorted(map(str, out)) == sorted(map(str, again))


def test_sample_frames_shape(spark, media):
    out = sample_frames(media, "id", "payload", n_frames=4).collect()
    assert len(out) == 16  # one row per (video, frame)
    by_id = {}
    for r in out:
        by_id.setdefault(r.id, []).append(r.frame_idx)
    assert all(sorted(v) == [0, 1, 2, 3] for v in by_id.values())


def test_resize_images_contract(spark, media):
    from fineo_readerator_spark.llm_ops.multimodal import resize_images

    out = resize_images(media, "id", "payload", width=32, height=16).collect()
    assert len(out) == 4
    for r in out:
        assert (r.width, r.height) == (32, 16)
        assert len(r.resized) == 32 * 16  # fake resize honors the target area
    # deterministic: same input -> same bytes
    again = resize_images(media, "id", "payload", width=32, height=16).collect()
    assert {r.id: bytes(r.resized) for r in out} == {r.id: bytes(r.resized) for r in again}


def test_bigram_lm_scores_null_and_short_docs(spark):
    from fineo_readerator_spark.llm_ops.textstats import bigram_lm_scores

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "single"),           # no bigrams -> excluded
            (3, None),               # NULL text -> excluded
            (4, "the cat"),          # one bigram seen twice corpus-wide
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_lm_scores(df).collect()}
    assert set(out) == {1, 4}
    assert out[1].n_bigrams == 5 and out[4].n_bigrams == 1
    # "the cat" occurs twice among 6 bigrams with context "the" (x3): the
    # repeated bigram must score higher than doc 1's average over rarer ones
    assert out[4].avg_logp > out[1].avg_logp


def test_bigram_lm_vocab_cap_maps_oov_to_unk(spark):
    from fineo_readerator_spark.llm_ops.textstats import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "the cat"), (2, "the dog"), (3, "the cat")],
        "doc_id long, text string",
    )
    full = {r.doc_id: r.avg_logp for r in bigram_lm_scores(df).collect()}
    # full vocab: c(the,cat)=2 beats c(the,dog)=1
    assert full[1] == full[3] and full[2] < full[1]
    capped = {
        r.doc_id: r.avg_logp
        for r in bigram_lm_scores(df, vocab_size=1).collect()
    }
    # vocab={'the'} -> cat/dog both collapse to UNK: all docs score identically
    assert capped[1] == capped[2] == capped[3]


def test_bigram_lm_corpus_model_table_is_not_hinted(spark):
    """The (m1, m2) bigram-count table grows with corpus vocabulary squared —
    it must carry NO broadcast hint (AQE sizes that join); only the
    parameter-bounded tables (vocab, c1, V) may be hinted."""
    import inspect
    import re

    from fineo_readerator_spark.llm_ops.textstats import bigram_lm_scores

    # the vocab cap must exist and have a sane default
    p = inspect.signature(bigram_lm_scores).parameters["vocab_size"]
    assert isinstance(p.default, int) and p.default >= 1

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = bigram_lm_scores(df)._jdf.queryExecution().analyzed().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line:
            continue
        nxt = lines[i + 1] if i + 1 < len(lines) else ""
        # a hint directly above the Aggregate producing c12 would force-broadcast
        # the corpus-derived bigram model
        assert not re.search(r"Aggregate \[m1#\d+, m2#\d+\]", nxt), (
            "bigram-count table (c12) must not be broadcast-hinted:\n" + plan
        )


def test_incremental_dedup_probes_store_without_base_rescan(spark, tmp_path):
    from fineo_readerator_spark.llm_ops.dedup import (
        incremental_minhash_flags,
        write_signature_store,
    )

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words entirely in this row"),
        ],
        "doc_id long, text string",
    )
    write_signature_store(base, store)
    # band table is partitioned by band_idx: a probe opens band dirs, and at
    # cluster scale the join key (band_idx, band_hash) is bucketable
    band_dirs = [p.name for p in (tmp_path / "store" / "bands").iterdir() if p.is_dir()]
    assert sorted(band_dirs) == sorted(f"band_idx={i}" for i in range(16))

    delta = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # = doc 1
            (11, "unrelated brand new content appears right here now"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in incremental_minhash_flags(store, delta).collect()}
    assert out[10].is_dup and out[10].n_dup_bases == 1 and out[10].best_est == 1.0
    assert not out[11].is_dup and out[11].n_dup_bases == 0 and out[11].best_est is None


def test_signature_store_interrupted_rebuild_reads_incomplete(spark, tmp_path, monkeypatch):
    """A parameter-changing rebuild that dies mid-write must NOT leave the
    old meta alongside new sigs — the meta is deleted up front, so an
    interrupted rebuild reads as incomplete, never as valid-with-stale-params."""
    import fineo_readerator_spark.llm_ops.dedup as dedup_mod
    from fineo_readerator_spark.llm_ops.dedup import (
        read_store_meta,
        write_signature_store,
    )

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    write_signature_store(base, store, seed=42)
    assert read_store_meta(spark, store)["seed"] == 42

    # rebuild with a DIFFERENT hash family, crashing after sigs are written
    orig = dedup_mod._band_explode

    def boom(*a, **kw):
        raise RuntimeError("simulated mid-rebuild crash")

    monkeypatch.setattr(dedup_mod, "_band_explode", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        write_signature_store(base, store, seed=99)
    monkeypatch.setattr(dedup_mod, "_band_explode", orig)

    # the old seed=42 meta must be gone: probing the half-rebuilt store with
    # the stale family would be a silent false negative
    with pytest.raises(ValueError, match="no _store_meta"):
        read_store_meta(spark, store)

    # a completed rebuild recovers the store
    write_signature_store(base, store, seed=99)
    assert read_store_meta(spark, store)["seed"] == 99


def _store_with_portable_meta(spark, tmp_path, portable):
    """(store, meta text, delta): a store over one doc whose meta carries
    the ``"portable"`` key that older builds wrote (``False`` meant
    xxhash64-signed shingles), and a delta holding a copy of that doc."""
    import json

    from fineo_readerator_spark.llm_ops.dedup import (
        _fs_read_text,
        _fs_write_text,
        write_signature_store,
    )

    store = str(tmp_path / "store")
    text = "the quick brown fox jumps over the lazy dog today"
    write_signature_store(spark.createDataFrame([(1, text)], "doc_id long, text string"), store)
    # through the Hadoop FS, which keeps the meta's checksum file in step
    meta_file = f"{store}/_store_meta.json"
    meta = {**json.loads(_fs_read_text(spark, meta_file)), "portable": portable}
    _fs_write_text(spark, meta_file, json.dumps(meta))
    delta = spark.createDataFrame([(10, text)], "doc_id long, text string")
    return store, _fs_read_text(spark, meta_file), delta


def test_signature_store_signed_with_xxhash_is_refused(spark, tmp_path):
    """An md5-leaf probe of an xxhash64-signed store would return false
    negatives with no error, so such a store must be rebuilt first."""
    from fineo_readerator_spark.llm_ops.dedup import incremental_minhash_flags

    store, _, delta = _store_with_portable_meta(spark, tmp_path, False)
    with pytest.raises(ValueError, match="rebuild it with write_signature_store"):
        incremental_minhash_flags(store, delta)


def test_signature_store_signed_with_md5_probes_without_rebuild(spark, tmp_path):
    """Stores built with the md5 leaf before the meta dropped its
    ``"portable": true`` key still probe as they are."""
    from fineo_readerator_spark.llm_ops.dedup import _fs_read_text, incremental_minhash_flags

    store, meta_text, delta = _store_with_portable_meta(spark, tmp_path, True)
    out = incremental_minhash_flags(store, delta).collect()[0]
    assert out.is_dup and out.n_dup_bases == 1 and out.best_est == 1.0
    assert _fs_read_text(spark, f"{store}/_store_meta.json") == meta_text


def test_span_overlap_pairs_finds_embedded_verbatim_span(spark):
    from fineo_readerator_spark.llm_ops.dedup import span_overlap_pairs

    quote = "the quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame(
        [
            (1, f"intro alpha beta. {quote} closing words one"),
            (2, f"totally different opening text here. {quote} and another tail"),
            (3, "no shared content at all xylophone quartz jelly vortex mumble"),
            (4, None),  # NULL text contributes no spans
        ],
        "doc_id long, text string",
    )
    pairs = span_overlap_pairs(df, min_shared=5, max_fp_df=4).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    assert pairs[0].shared >= 5  # the shared span yields many common fps

    # the document-frequency cap: a span present in EVERY doc is boilerplate,
    # not duplication — with max_fp_df=1 nothing pairs
    assert span_overlap_pairs(df, min_shared=5, max_fp_df=1).count() == 0


def test_span_overlap_pairs_guards(spark):
    import pytest

    from fineo_readerator_spark.llm_ops.dedup import span_overlap_pairs

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_fp_df"):
        span_overlap_pairs(df, max_fp_df=0)
    with pytest.raises(ValueError, match="min_shared"):
        span_overlap_pairs(df, min_shared=0)


def test_bm25_topk_ranking_and_stats(spark):
    import math

    import pytest

    from fineo_readerator_spark.llm_ops.retrieval import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark spark filler filler filler filler filler"),  # tf=3, long
            (2, "spark rows"),                                            # tf=1, short
            (3, "nothing relevant here at all"),
            (4, "spark spark"),                                           # tf=2, shortest
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, ["SPARK"], k=10).collect()  # query is case-normalized
    assert [r.doc_id for r in out] == [4, 1, 2]  # 3 never matches
    assert all(r.n_terms_matched == 1 for r in out)
    # hand-check doc 4: N=4, df=3, dl=2, avgdl=(8+2+5+2)/4
    n, dfreq, tf, dl, avgdl, k1, b = 4, 3, 2, 2, 17 / 4, 1.2, 0.75
    idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))
    expect = round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)), 6)
    assert out[0].score == pytest.approx(expect, abs=1e-6)

    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(df, [])


def test_pq_topk_recall_and_determinism(spark, vectors):
    import pytest

    from fineo_readerator_spark.llm_ops.similarity import pq_seeded_topk

    base = [float(v) for v in vectors.filter("vec_id = 0").first().embedding]
    rest = vectors.filter("vec_id != 0")
    top = pq_seeded_topk(rest, base, k=3, m=4, n_codes=8).collect()
    # near-identical vectors take the same codes as vector 0 in every
    # subspace, so their ADC estimate is the minimum possible
    assert {r.vec_id for r in top} == {50, 51, 52}
    again = pq_seeded_topk(rest, base, k=3, m=4, n_codes=8).collect()
    assert [(r.vec_id, r.est_dist) for r in top] == [(r.vec_id, r.est_dist) for r in again]

    with pytest.raises(ValueError, match="not divisible"):
        pq_seeded_topk(rest, base, m=5)  # 16 dims % 5 != 0


def test_pq_topk_excludes_null_and_misdimensioned_embeddings(spark):
    from fineo_readerator_spark.llm_ops.similarity import pq_seeded_topk

    rows = [(i, [float(i + j) for j in range(8)]) for i in range(1, 6)]
    rows += [(99, None), (98, [1.0, 2.0])]  # unrankable
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = pq_seeded_topk(df, [float(1 + j) for j in range(8)], k=10, m=2, n_codes=2)
    ids = [r.vec_id for r in top.collect()]
    assert 99 not in ids and 98 not in ids and len(ids) == 5


def test_admit_batch_flags_one_row_per_doc_incl_unsignable(spark, tmp_path):
    from fineo_readerator_spark.llm_ops.dedup import (
        admit_batch_to_store,
        write_signature_store,
    )

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    write_signature_store(base, store)
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # dup
            (11, "completely different new words in this row here"),     # novel
            (12, None),                                                   # unsignable
            (13, ""),                                                     # unsignable
        ],
        "doc_id long, text string",
    )
    flags = {r.doc_id: r for r in admit_batch_to_store(batch, store).collect()}
    assert set(flags) == {10, 11, 12, 13}  # one row per INPUT doc
    assert flags[10].is_dup and not flags[11].is_dup
    # NULL/empty text carries the pinned degenerate (empty-shingle)
    # signature: the store has no such sig yet, so both are admitted here
    assert not flags[12].is_dup and flags[12].n_dup_bases == 0
    assert not flags[13].is_dup
    ids = {
        r.id
        for r in spark.read.schema("id long, sig array<bigint>")
        .parquet(f"{store}/sigs")
        .collect()
    }
    assert ids == {1, 11, 12, 13}
    # ...and a LATER content-free doc is rejected against the admitted one
    later = spark.createDataFrame([(14, "")], "doc_id long, text string")
    out = admit_batch_to_store(later, store).collect()[0]
    assert out.is_dup and out.best_est == 1.0


def test_probe_store_deterministic_with_duplicate_store_rows(spark, tmp_path):
    """The probe output is a deterministic SET: exact replay copies in the
    store collapse (static-side dedup), while a re-ingested id with CHANGED
    text keeps both sigs and each emits its own (id, base_id, est) row —
    never an arbitrary pick between differing ests (review r6 finding; a
    groupBy-max fold would be illegal on the streaming probe path)."""
    from fineo_readerator_spark.llm_ops.dedup import (
        append_to_signature_store,
        minhash_signatures,
        probe_signature_store,
        read_store_meta,
        write_signature_store,
    )

    store = str(tmp_path / "store")
    t1 = "the quick brown fox jumps over the lazy dog today"
    base = spark.createDataFrame([(1, t1)], "doc_id long, text string")
    write_signature_store(base, store)
    meta = read_store_meta(spark, store)

    def sigs_of(text):
        return minhash_signatures(
            spark.createDataFrame([(1, text)], "doc_id long, text string"),
            "doc_id", "text",
            meta["num_hashes"], meta["shingle_k"], meta["seed"],
        )

    # replay: append the SAME sig twice — the probe result must not change
    append_to_signature_store(sigs_of(t1), store)
    append_to_signature_store(sigs_of(t1), store)
    rows = probe_signature_store(sigs_of(t1), store, threshold=0.5).collect()
    assert [(r.id, r.base_id, r.est) for r in rows] == [(1, 1, 1.0)]

    # flags stay deterministic over multi-sig bases too
    from fineo_readerator_spark.llm_ops.dedup import incremental_minhash_flags

    t2 = "the quick brown fox jumps over the lazy dog tomorrow morning"
    append_to_signature_store(sigs_of(t2), store)  # same id, DIFFERENT sig
    probe = spark.createDataFrame([(9, t1)], "doc_id long, text string")
    out = incremental_minhash_flags(store, probe).collect()[0]
    assert out.is_dup and out.n_dup_bases == 1 and out.best_est == 1.0


def test_embedding_decontaminate_flags_planted_copy(spark, vectors):
    from fineo_readerator_spark.llm_ops.similarity import embedding_decontaminate

    # eval set = vector 0; corpus = everything else (50..52 are its near-copies)
    out = {
        r.vec_id: r
        for r in embedding_decontaminate(
            vectors.filter("vec_id != 0"), vectors.filter("vec_id = 0"), threshold=0.99
        ).collect()
    }
    assert len(out) == 52  # one row per corpus id
    assert all(out[i].is_contaminated for i in (50, 51, 52))
    assert all(out[i].best_sim > 0.99 for i in (50, 51, 52))
    clean = [i for i in out if i not in (50, 51, 52)]
    assert all(not out[i].is_contaminated and out[i].n_eval_hits == 0 for i in clean)


def test_embedding_decontaminate_excludes_unrankable_vectors(spark, vectors):
    """ADVICE regression: a zero-norm corpus vector scored cos = 0/0 = NaN,
    which sorts ABOVE the threshold → false is_contaminated with NaN
    best_sim; NULL/misdimensioned rows reported clean.  All three are now
    EXCLUDED from the output, and a valid near-copy still flags."""
    from fineo_readerator_spark.llm_ops.similarity import embedding_decontaminate

    dirty = spark.createDataFrame(
        [(900, [0.0] * 16), (901, None), (902, [1.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.vec_id: r
        for r in embedding_decontaminate(
            vectors.filter("vec_id != 0").unionByName(dirty),
            vectors.filter("vec_id = 0"),
            threshold=0.99,
        ).collect()
    }
    assert not {900, 901, 902} & set(out)  # unrankable rows absent, not "clean"
    assert all(out[i].is_contaminated for i in (50, 51, 52))
    # an all-NULL eval side raises a clear error, not IndexError/NaN
    with pytest.raises(ValueError, match="non-NULL"):
        embedding_decontaminate(
            vectors,
            spark.createDataFrame([(1, None)], "vec_id long, embedding array<float>"),
        ).collect()


def test_repetition_signals_flag_doubled_docs(spark):
    """A doc whose text is doubled at a paragraph boundary has every
    paragraph slot repeated once: dup_para_frac = 0.5, char frac = 0.5,
    fails the Gopher rule; a repeat-free doc passes; empty text defaults."""
    from fineo_readerator_spark.llm_ops.textstats import with_repetition_signals

    body = " ".join(f"w{i}" for i in range(30))  # exactly 2 windows of 15
    df = spark.createDataFrame(
        [(1, body + " " + body), (2, body), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in with_repetition_signals(df).collect()}
    assert out[1].n_paras == 4 and out[1].dup_para_frac == 0.5
    assert out[1].dup_para_char_frac == 0.5 and not out[1].repetition_pass
    assert out[2].dup_para_frac == 0.0 and out[2].repetition_pass
    assert out[3].n_paras == 0 and not out[3].repetition_pass


def test_kmeans_refine_tightens_clusters(spark, vectors):
    """Two Lloyd iterations must not increase total within-cluster SSD vs
    the zero-iteration seeded assignment, and the planted near-copies
    (0, 50, 51, 52) must land in one cluster."""
    from fineo_readerator_spark.llm_ops.similarity import kmeans_refine

    cents0, a0 = kmeans_refine(vectors, n_centroids=8, n_iters=0)
    cents2, a2 = kmeans_refine(vectors, n_centroids=8, n_iters=2)
    ssd0 = a0.agg(F.sum("sq_dist")).first()[0]
    ssd2 = a2.agg(F.sum("sq_dist")).first()[0]
    assert ssd2 <= ssd0 + 1e-9
    assert cents2 != cents0  # centroids actually moved off the seeds
    cl = {r.vec_id: r.cluster_id for r in a2.collect()}
    assert len({cl[i] for i in (0, 50, 51, 52)}) == 1
    with pytest.raises(ValueError, match="non-NULL"):
        kmeans_refine(
            spark.createDataFrame([], "vec_id long, embedding array<float>")
        )


def test_knn_graph_dim_from_modal_size_not_lowest_id(spark, vectors):
    """ADVICE regression: the authoritative dimension came from the
    lowest-id seed row, so one misdimensioned row with the smallest id
    filtered out the ENTIRE valid corpus; an empty corpus raised a bare
    IndexError.  Dimension is now the modal vector size (or explicit)."""
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    bad_first = spark.createDataFrame(
        [(-1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    out = knn_graph(bad_first.unionByName(vectors), k=2)
    ids = {r.vec_id for r in out.select("vec_id").distinct().collect()}
    clean_ids = {
        r.vec_id for r in knn_graph(vectors, k=2).select("vec_id").distinct().collect()
    }
    assert -1 not in ids and ids == clean_ids  # valid corpus survives intact
    with pytest.raises(ValueError, match="non-NULL"):
        knn_graph(
            spark.createDataFrame([], "vec_id long, embedding array<float>"), k=2
        )


# --- paragraph dedup --------------------------------------------------------


def test_paragraph_dedup_first_occurrence_and_reassembly(spark):
    from fineo_readerator_spark.llm_ops.dedup import paragraph_dedup

    p1 = " ".join(f"a{i}" for i in range(15))
    p2 = " ".join(f"b{i}" for i in range(15))
    p3 = " ".join(f"c{i}" for i in range(15))
    tail = "short tail"
    df = spark.createDataFrame(
        [
            (1, f"{p1} {p2}"),          # first occurrence of p1, p2
            (2, f"{p1} {p3} {tail}"),   # loses p1, keeps p3 + partial tail
            (3, f"{p2} {p1}"),          # pure boilerplate: disappears
            (4, ""),                    # empty: disappears
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(df, "doc_id").collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_kept"] == 2 and out[1]["kept_text"] == f"{p1} {p2}"
    # doc 2: p1 removed (seen in doc 1), p3 and the partial tail kept IN ORDER
    assert out[2]["n_kept"] == 2 and out[2]["kept_text"] == f"{p3} {tail}"


def test_paragraph_dedup_ties_break_by_id_then_position(spark):
    from fineo_readerator_spark.llm_ops.dedup import paragraph_dedup

    para = " ".join(f"x{i}" for i in range(15))
    df = spark.createDataFrame(
        [(-5, para), (2, para), (7, para)], "doc_id long, text string"
    )
    out = paragraph_dedup(df, "doc_id").collect()
    assert len(out) == 1 and out[0]["doc_id"] == -5


# --- keep-best representative dedup ----------------------------------------


def test_minhash_keep_best_selects_highest_score_not_min_id(spark):
    from fineo_readerator_spark.llm_ops.dedup import (
        minhash_dedup,
        minhash_dedup_keep_best,
    )

    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, base, 40),
        (9, base + " extra suffix tokens", 43),  # longer near-dup, HIGHER id
        (5, "entirely different unrelated content right here", 7),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars int")
    best = {
        r["doc_id"]
        for r in minhash_dedup_keep_best(df, "doc_id", "n_chars").collect()
    }
    assert best == {9, 5}
    # min-id dedup on the same corpus picks the OTHER representative
    minid = {r["doc_id"] for r in minhash_dedup(df, "doc_id").collect()}
    assert minid == {1, 5}


def test_minhash_keep_best_tie_breaks_to_min_id(spark):
    from fineo_readerator_spark.llm_ops.dedup import minhash_dedup_keep_best

    base = " ".join(f"t{i}" for i in range(40))
    df = spark.createDataFrame(
        [(4, base + " pad", 41), (2, base + " pod", 41)],
        "doc_id long, text string, n_chars int",
    )
    out = {r["doc_id"] for r in minhash_dedup_keep_best(df, "doc_id", "n_chars").collect()}
    assert out == {2}


# --- corpus diff ------------------------------------------------------------


def test_corpus_diff_statuses_and_group_reassignment(spark):
    from fineo_readerator_spark.llm_ops.versioning import corpus_diff

    old = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s1"), (3, "c", "s2"), (4, "d", "s2")],
        "doc_id long, text string, source string",
    )
    # 1 unchanged; 2 changed AND moved s1->s2 (counts in s2); 3 removed; 5 added
    new = spark.createDataFrame(
        [(1, "a", "s1"), (2, "B", "s2"), (4, "d", "s2"), (5, "e", "s1")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r.asDict() for r in corpus_diff(old, new).collect()}
    assert out["s1"]["n_unchanged"] == 1 and out["s1"]["n_added"] == 1
    assert out["s1"]["n_removed"] == 0 and out["s1"]["n_changed"] == 0
    assert out["s2"]["n_changed"] == 1 and out["s2"]["n_removed"] == 1
    assert out["s2"]["n_unchanged"] == 1


# --- audit ------------------------------------------------------------------


def test_audit_checks_and_single_scan_row_checks(spark):
    from fineo_readerator_spark.operators.audit import (
        audit_report,
        fk_check,
        row_checks,
        unique_check,
    )
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [(1, None, 5), (2, "x", -1), (2, "y", 3), (9, "z", 4)],
        "id long, txt string, n int",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pid long")
    rep = audit_report(
        row_checks(t, "t", {"null_txt": F.col("txt").isNull(), "neg_n": F.col("n") < 0}),
        unique_check(t, "t", ["id"], "unique_id"),
        fk_check(t, parent, "t", "id", "pid", "fk_parent"),
    )
    rows = {r["check_name"]: r.asDict() for r in rep.collect()}
    assert rows["null_txt"]["violations"] == 1 and rows["null_txt"]["total"] == 4
    assert rows["neg_n"]["violations"] == 1
    assert rows["unique_id"]["violations"] == 1  # id 2 twice
    assert rows["fk_parent"]["violations"] == 1 and not rows["fk_parent"]["passed"]
    assert all(r["table_name"] == "t" for r in rows.values())
    # scale contract: N row checks = ONE scan — a single aggregate node
    plan = row_checks(t, "t", {"a": F.col("n") < 0, "b": F.col("txt").isNull()})
    physical = plan._jdf.queryExecution().executedPlan().toString()
    assert physical.count("Scan ExistingRDD") <= 1


def test_audit_guards(spark):
    import pytest
    from fineo_readerator_spark.operators.audit import audit_report, row_checks

    t = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        row_checks(t, "t", {})
    with pytest.raises(ValueError):
        audit_report()


# --- hybrid RRF -------------------------------------------------------------


def test_hybrid_rrf_fuses_both_channels(spark):
    from fineo_readerator_spark.llm_ops.retrieval import hybrid_rrf_topk

    docs = spark.createDataFrame(
        [
            (1, "spark join window spark"),   # strong lexical
            (2, "spark join"),                # weaker lexical
            (3, "nothing relevant here"),     # lexical miss
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [0.0, 1.0]),   # orthogonal to query
            (2, [1.0, 0.1]),   # close
            (3, [1.0, 0.0]),   # exact direction
        ],
        "vec_id long, embedding array<float>",
    )
    out = hybrid_rrf_topk(docs, emb, ["spark", "join", "window"], [1.0, 0.0], k=3, shortlist=2)
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    # doc 2 is in BOTH shortlists -> two 1/(c+r) terms; 1 and 3 in one each
    assert rows[2]["lex_rank"] is not None and rows[2]["cos_rank"] is not None
    assert rows[1]["cos_rank"] is None and rows[3]["lex_rank"] is None
    assert rows[2]["rrf_score"] > max(rows[1]["rrf_score"], rows[3]["rrf_score"])
    expected = round(1.0 / (60 + rows[2]["lex_rank"]) + 1.0 / (60 + rows[2]["cos_rank"]), 9)
    assert rows[2]["rrf_score"] == expected


# --- PQ rerank --------------------------------------------------------------


def test_pq_rerank_matches_exact_when_shortlist_covers(spark, vectors):
    from fineo_readerator_spark.llm_ops.similarity import cosine_topk, pq_rerank_topk

    qv = [float(v) for v in vectors.filter("vec_id = 0").first()["embedding"]]
    corpus = vectors.filter("vec_id != 0")
    n = corpus.count()
    exact = cosine_topk(corpus, qv, k=5).collect()
    rerank = pq_rerank_topk(corpus, qv, k=5, shortlist=n).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in rerank] == [
        (r["vec_id"], r["cos_sim"]) for r in exact
    ]


# --- TF-IDF pairs -----------------------------------------------------------


def test_tfidf_pairs_scores_weighted_similarity(spark):
    from fineo_readerator_spark.llm_ops.retrieval import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, "rare alpha beta", "g"),
            (2, "rare alpha beta", "g"),      # identical -> cos 1.0
            (3, "other words here", "g"),
            (4, "rare alpha beta", "h"),      # identical to 1 but other GROUP
        ],
        "doc_id long, text string, grp string",
    )
    out = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
           tfidf_cosine_pairs(df, "doc_id", "text", ["grp"], threshold=0.5).collect()}
    assert out == {(1, 2): 1.0}  # group blocking excludes (1,4); 3 dissimilar


def test_tfidf_pairs_ungrouped_raises_and_zero_norm_excluded(spark):
    import pytest
    from fineo_readerator_spark.llm_ops.retrieval import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [(1, "common", "g"), (2, "common", "g"), (3, "common", "g")],
        "doc_id long, text string, grp string",
    )
    with pytest.raises(ValueError):
        tfidf_cosine_pairs(df, "doc_id", "text", None)
    # 'common' is in every doc -> idf quantizes to 0 -> zero norms -> no
    # NaN pairs may leak through the threshold
    assert tfidf_cosine_pairs(df, "doc_id", "text", ["grp"]).count() == 0


def test_tfidf_dfreq_broadcast_only_when_vocab_bounded(spark):
    """r8 verdict: the per-term df table is |vocabulary| rows — unbounded
    at corpus scale — so a FORCED broadcast of it is a driver OOM hazard.
    Unbounded calls must carry exactly ONE broadcast hint (the single-row
    n_docs frame); a min_df/max_vocab bound adds the dfreq hint back."""
    from fineo_readerator_spark.llm_ops.retrieval import (
        keyword_topk,
        tfidf_cosine_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "rare alpha beta", "g"),
            (2, "rare alpha beta", "g"),
            (3, "other words here", "g"),
        ],
        "doc_id long, text string, grp string",
    )

    from fineo_readerator_spark.llm_ops.retrieval import _maybe_broadcast

    def hints(sdf):
        return sdf._jdf.queryExecution().analyzed().toString().count("ResolvedHint")

    # unit contract: only a HARD bound (max_vocab) earns the hint — min_df
    # alone leaves the table O(|vocabulary|) (hapax removal is not a bound)
    dfreq = df.selectExpr("text as __term", "doc_id as __df")
    assert _maybe_broadcast(dfreq, 1, None) is dfreq
    assert _maybe_broadcast(dfreq, 2, None) is dfreq
    assert hints(_maybe_broadcast(dfreq, 1, 100)) == 1
    # integration (keyword_topk's final plan is not lineage-cut above the
    # join, so the hint census is visible end-to-end; tfidf's is hidden
    # behind the weighted localCheckpoint): n_docs' single-row hint only
    assert hints(keyword_topk(df, "doc_id", "text")) == 1
    assert hints(keyword_topk(df, "doc_id", "text", min_df=2)) == 1
    assert hints(keyword_topk(df, "doc_id", "text", max_vocab=50)) == 2
    # result unchanged by unhinting
    assert tfidf_cosine_pairs(df, "doc_id", "text", ["grp"]).count() == 1


def test_keyword_topk_vocab_cap_and_dup_ids_match_oracle(spark):
    """min_df/max_vocab caps and duplicate doc ids (N = DISTINCT ids, the
    r8 ADVICE convention fix) replay exactly in DuckDB."""
    import duckdb
    import pyarrow as pa

    from fineo_readerator_spark.llm_ops.retrieval import (
        keyword_topk,
        keyword_topk_oracle_sql,
    )

    rows = [
        (1, "alpha beta gamma"),
        (1, "beta delta"),  # same doc id twice: one logical document
        (2, "alpha beta"),
        (3, "alpha epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register(
        "corpus",
        pa.table(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
        ),
    )
    for kw in ({}, {"min_df": 2}, {"max_vocab": 3}, {"min_df": 2, "max_vocab": 2}):
        got = sorted(
            tuple(r) for r in keyword_topk(df, "doc_id", "text", k=2, **kw).collect()
        )
        exp = sorted(
            tuple(r)
            for r in con.execute(
                keyword_topk_oracle_sql("SELECT doc_id, text FROM corpus", "doc_id", "text", k=2, **kw)
            ).fetchall()
        )
        assert got == exp and got, kw
    with pytest.raises(ValueError, match="min_df"):
        keyword_topk(df, min_df=0)
    with pytest.raises(ValueError, match="max_vocab"):
        keyword_topk(df, max_vocab=0)


# --- kNN graph --------------------------------------------------------------


def test_knn_graph_ranks_within_cells(spark):
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    # two natural clusters; n_centroids=2 seeds from the two lowest ids,
    # which sit in different clusters -> cells = clusters
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.1, 0.9, 0.0, 0.0]),
        (4, [0.95, 0.05, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn_graph(df, k=2, n_centroids=2)
    by_src = {}
    for r in out.collect():
        by_src.setdefault(r["vec_id"], []).append((r["rank"], r["nbr_id"]))
    # cluster A = {0,2,4}, cluster B = {1,3}
    assert {n for _, n in by_src[0]} == {2, 4}
    assert by_src[1] == [(1, 3)]  # only one in-cell neighbor
    assert sorted(by_src[2])[0][1] in (0, 4)
    # ranks are 1..k dense per node
    for src, nbrs in by_src.items():
        assert [r for r, _ in sorted(nbrs)] == list(range(1, len(nbrs) + 1))


def test_knn_graph_gates_oversized_cells(spark, vectors):
    import pytest
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    with pytest.raises(ValueError, match="cell sizing"):
        knn_graph(vectors, k=2, n_centroids=2, max_rows_per_cell=3)


def test_paragraph_and_knn_plans_use_window_group_limit(spark, vectors):
    """Scale contract: the per-group top-1/top-k filters must compile to
    WindowGroupLimit (partial heaps BEFORE the exchange), not a full sort
    of the exploded set."""
    from fineo_readerator_spark.llm_ops.dedup import paragraph_dedup
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(6)],
        "doc_id long, text string",
    )
    p1 = paragraph_dedup(docs, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p1
    p2 = knn_graph(vectors, k=2)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p2


def test_corpus_diff_oracle_handles_null_text(spark):
    """Review regression: the oracle used md5(text) as the row-presence
    marker, so a NULL-text row read as 'added'/'removed' wrongly.  Presence
    is now a dedicated flag; NULL-vs-text compares as 'changed', NULL-vs-NULL
    as 'unchanged', NULL-row removal as 'removed' — on BOTH engines."""
    import duckdb
    import pandas as pd

    from fineo_readerator_spark.llm_ops.versioning import (
        corpus_diff,
        corpus_diff_oracle_sql,
    )

    old = [(1, None, "s1"), (2, None, "s1"), (3, "x", "s1")]
    new = [(1, "now text", "s1"), (2, None, "s1")]  # 3 removed (had text)
    sdf_old = spark.createDataFrame(old, "doc_id long, text string, source string")
    sdf_new = spark.createDataFrame(new, "doc_id long, text string, source string")
    got = sorted(tuple(r) for r in corpus_diff(sdf_old, sdf_new).collect())

    con = duckdb.connect()
    con.register("v_old", pd.DataFrame(old, columns=["doc_id", "text", "source"]))
    con.register("v_new", pd.DataFrame(new, columns=["doc_id", "text", "source"]))
    exp = sorted(
        tuple(r)
        for r in con.execute(
            corpus_diff_oracle_sql("SELECT * FROM v_old", "SELECT * FROM v_new")
        ).fetchall()
    )
    assert got == exp
    assert got == [("s1", 0, 1, 1, 1)]  # added=0, removed=1, changed=1, unchanged=1


def test_tfidf_pairs_single_tokenize_pass(spark):
    """Review regression: without the lineage cuts the tokenize+tf subtree
    re-evaluated once per consumer (12 input scans measured)."""
    from fineo_readerator_spark.llm_ops.retrieval import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [(1, "a b c", "g"), (2, "a b d", "g")], "doc_id long, text string, grp string"
    )
    plan = (
        tfidf_cosine_pairs(df, "doc_id", "text", ["grp"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # every scan must read the CHECKPOINTED weighted frame (__w in its
    # schema), never re-derive the tokenize subtree from the raw input
    scans = [l for l in plan.splitlines() if "Scan ExistingRDD" in l]
    assert scans and all("__w" in l for l in scans), plan


def test_knn_graph_excludes_unrankable_vectors(spark):
    """Review regression: NULL embeddings vanished silently mid-plan, and
    zero-norm vectors emitted cos_sim=NULL edges inside small cells' top-k."""
    rows = [
        (10, [1.0, 0.0]),
        (11, [0.9, 0.1]),
        (12, None),            # NULL: excluded
        (13, [0.0, 0.0]),      # zero norm: excluded
        (14, [1.0, 0.0, 0.0]), # wrong dimension: excluded
    ]
    from fineo_readerator_spark.llm_ops.similarity import knn_graph

    out = knn_graph(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        k=3,
        n_centroids=2,
    ).collect()
    ids = {r["vec_id"] for r in out} | {r["nbr_id"] for r in out}
    assert ids <= {10, 11}
    assert all(r["cos_sim"] is not None for r in out)


def test_apply_changes_merge_semantics(spark):
    """CDC MERGE: upsert collapse (insert-of-existing updates,
    update-of-missing inserts), latest-wins conflict resolution (higher-seq
    delete beats an update), clean deletes, untouched rows pass through."""
    from fineo_readerator_spark.llm_ops.versioning import apply_changes

    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three"), (4, "four")],
        "doc_id long, text string",
    )
    changes = spark.createDataFrame(
        [
            (2, "delete", 1, "x"),          # clean delete
            (3, "insert", 1, "three-v2"),   # insert-of-existing -> update
            (5, "update", 1, "five"),       # update-of-missing -> insert
            (4, "update", 1, "four-lost"),  # loses to the seq-2 delete
            (4, "delete", 2, "x"),
        ],
        "doc_id long, op string, seq int, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in apply_changes(base, changes, "doc_id", "op", seq_col="seq").collect()
    }
    assert out == {1: "one", 3: "three-v2", 5: "five"}


def test_apply_changes_same_seq_delete_beats_update(spark):
    from fineo_readerator_spark.llm_ops.versioning import apply_changes

    base = spark.createDataFrame([(1, "one")], "doc_id long, text string")
    changes = spark.createDataFrame(
        [(1, "update", 1, "one-v2"), (1, "delete", 1, "x")],
        "doc_id long, op string, seq int, text string",
    )
    assert apply_changes(base, changes, "doc_id", "op", seq_col="seq").count() == 0


def test_normalize_text_strips_and_collapses(spark):
    from fineo_readerator_spark.llm_ops.textstats import normalize_text

    df = spark.createDataFrame(
        [
            (1, "  Hello   WORLD  visit https://X.co/a?b=1 now "),
            (2, "mail Bob.Smith+x@Example.COM  please"),
            (3, None),
            (4, "https://only.url/here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["norm_text"], r["n_norm_tokens"]) for r in
           normalize_text(df).collect()}
    assert out[1] == ("hello world visit now", 4)
    assert out[2] == ("mail please", 2)
    assert out[3] == (None, -1) or out[3][0] is None  # NULL propagates
    assert out[4] == ("", 0)


def test_minhash_cluster_labels_cover_all_rows_consistently(spark, docs):
    """Every input row gets a label; exact-dup members inherit their rep's
    cluster; the label set's minima are exactly the minhash_dedup
    survivors (same cascade, two views)."""
    from fineo_readerator_spark.llm_ops.dedup import (
        minhash_cluster_labels,
        minhash_dedup,
    )

    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_cluster_labels(
            docs, "doc_id", num_hashes=64, bands=32, threshold=0.5
        ).collect()
    }
    assert set(labels) == {0, 1, 2, 3, 4, 5}  # every row labeled
    assert labels[1] == labels[0]  # exact dup inherits
    assert labels[2] == labels[0] and labels[5] == labels[0]  # near dups
    survivors = {
        r["doc_id"]
        for r in minhash_dedup(
            docs, "doc_id", num_hashes=64, bands=32, threshold=0.5
        ).collect()
    }
    assert set(labels.values()) == survivors  # cluster ids ARE the keepers


def test_minhash_cluster_labels_with_id_named_id(spark):
    """Review regression: a caller id column named 'id' collided with the
    internal labels frame's 'id' and raised AMBIGUOUS_REFERENCE."""
    from fineo_readerator_spark.llm_ops.dedup import minhash_cluster_labels

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z")],
        "id long, text string",
    )
    out = {r["id"]: r["cluster_id"] for r in
           minhash_cluster_labels(df, "id").collect()}
    assert out == {1: 1, 2: 1, 3: 3}


def test_embedding_drift_self_calibration_and_guards(spark):
    """Identical halves → cos 1.0; NULL and misdimensioned vectors are
    excluded (modal-dim contract); a label whose centroid is all-zero on
    one side reports NULL, never NaN."""
    from fineo_readerator_spark.llm_ops.similarity import embedding_drift

    rows = []
    for i in range(8):  # label 0: even/odd halves identical in aggregate
        rows.append((i, [1.0, 2.0, 3.0], 0))
    rows.append((100, [5.0, 5.0], 0))       # wrong dim: must not poison
    rows.append((101, None, 0))             # NULL: dropped
    rows.append((200, [0.0, 0.0, 0.0], 1))  # label 1 even half: zero centroid
    rows.append((201, [1.0, 0.0, 0.0], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r for r in embedding_drift(df).collect()}
    assert got[0]["centroid_cos"] == 1.0
    assert got[0]["n_a"] == 4 and got[0]["n_b"] == 4
    assert got[1]["centroid_cos"] is None  # zero-norm centroid → NULL, not NaN


def test_curriculum_schedule_interleaves_and_validates(spark):
    """Round-robin interleave: within a shard, pos order is rank-1 of every
    source before any rank-2; easiest (highest score) first per source."""
    from fineo_readerator_spark.llm_ops.sampling import curriculum_schedule

    rows = [(i, "s%d" % (i % 2), float(i)) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, source string, q double")
    out = curriculum_schedule(df, "q", "doc_id", "source", n_shards=1)
    ordered = [r for r in out.orderBy("pos").collect()]
    # per-source ranks are easy-first (score DESC)
    s0 = [r["doc_id"] for r in ordered if r["source"] == "s0"]
    assert s0 == sorted(s0, reverse=True)
    # interleave: the first len(sources) positions cover distinct sources
    assert {ordered[0]["source"], ordered[1]["source"]} == {"s0", "s1"}
    assert [r["src_rank"] for r in ordered[:4]] == [1, 1, 2, 2]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_shards"):
        curriculum_schedule(df, "q", "doc_id", "source", n_shards=0)


def test_curriculum_schedule_single_exchange(spark):
    """Both windows (per-(shard,source) rank and per-shard position) must
    run under ONE hash exchange on shard — the ClusteredDistribution
    subset rule the docstring claims."""
    from fineo_readerator_spark.llm_ops.sampling import curriculum_schedule

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("source"),
        F.rand(7).alias("q"),
    )
    out = curriculum_schedule(df, "q", "doc_id", "source", n_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_exchange = sum("Exchange" in l for l in plan.splitlines())
    assert n_exchange == 1, plan


# --- content-defined chunking -----------------------------------------------


def test_cdc_chunks_reassemble_and_edge_cases(spark):
    """Chunks concatenated in chunk_idx order must rebuild every document's
    token stream exactly; NULL/empty docs yield no chunks; divisor=1 makes
    every token its own chunk."""
    from fineo_readerator_spark.llm_ops.textstats import content_defined_chunks

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "hello"),
        (3, None),
        (4, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = content_defined_chunks(df, divisor=4)
    re = {
        r.doc_id: r.re
        for r in out.groupBy("doc_id")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.struct("chunk_idx", "chunk_text"))).getField(
                    "chunk_text"
                ),
                " ",
            ).alias("re")
        )
        .collect()
    }
    assert re == {1: rows[0][1], 2: "hello"}  # 3 and 4 yield no chunks
    ones = content_defined_chunks(df, divisor=1).filter(F.col("doc_id") == 1)
    got = [(r.chunk_idx, r.n_tokens, r.chunk_text) for r in ones.orderBy("chunk_idx").collect()]
    assert got == [(i, 1, t) for i, t in enumerate(rows[0][1].split())]
    with pytest.raises(ValueError, match="divisor"):
        content_defined_chunks(df, divisor=0)


def test_cdc_chunks_boundaries_are_content_local(spark):
    """The CDC property the operator exists for: prepending tokens to a
    document must leave every chunk strictly after the first boundary
    identical — fixed windows would shift all of them."""
    from fineo_readerator_spark.llm_ops.textstats import content_defined_chunks

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    edited = "INSERTED TOKENS " + base
    df = spark.createDataFrame(
        [(1, base.strip()), (2, edited.strip())], "doc_id long, text string"
    )
    out = content_defined_chunks(df, divisor=4)
    c1 = [r.chunk_text for r in out.filter("doc_id = 1").orderBy("chunk_idx").collect()]
    c2 = [r.chunk_text for r in out.filter("doc_id = 2").orderBy("chunk_idx").collect()]
    assert len(c1) > 2  # the fixture actually chunks
    # all chunks after the first (edit-bearing) region realign exactly
    assert c1[1:] == c2[len(c2) - len(c1) + 1 :]


def test_cdc_chunks_plan_is_shuffle_free(spark):
    """Chunking must ride the scan: no Exchange anywhere in the plan."""
    from fineo_readerator_spark.llm_ops.textstats import content_defined_chunks

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = (
        content_defined_chunks(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


# --- int8 embedding quantization --------------------------------------------


def test_quantize_int8_bounds_and_zero_dim(spark):
    """q stays in [-127,127] with the corpus max hitting ±127 exactly; an
    all-zero dimension quantizes to 0 with zero error; reconstruction
    error is bounded by half the largest scale; dirty rows are excluded."""
    from fineo_readerator_spark.llm_ops.similarity import quantize_embeddings_int8

    rows = [
        (1, [2.0, 0.0, -1.27]),
        (2, [-4.0, 0.0, 0.635]),
        (3, None),
        (4, [1.0]),  # wrong dim: excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in quantize_embeddings_int8(df).collect()}
    assert set(out) == {1, 2}
    # dim 0: maxabs 4 -> scale 4/127; x=2 -> 63.5 -> 64 (half-up); x=-4 -> -127
    assert out[1].qvec[0] == 64 and out[2].qvec[0] == -127
    # dim 1 all zero: q 0, contributes 0 error
    assert out[1].qvec[1] == 0 and out[2].qvec[1] == 0
    # dim 2: maxabs 1.27 -> scale 0.01; ±127, 63.5 -> 64 half-up
    assert out[1].qvec[2] == -127 and out[2].qvec[2] == 64
    max_scale = 4.0 / 127.0
    for r in out.values():
        assert all(-127 <= q <= 127 for q in r.qvec)
        assert r.max_abs_err <= max_scale / 2 + 1e-9


def test_quantize_int8_corpus_never_shuffles(spark):
    """The only exchanges allowed are the dim-sized aggregate feeding the
    broadcast scales row — the corpus-side projection itself must carry
    no Exchange above its scan."""
    from fineo_readerator_spark.llm_ops.similarity import quantize_embeddings_int8

    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % 7).cast("float") for _ in range(4)]).alias("embedding"),
    )
    out = quantize_embeddings_int8(df, dim=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # broadcast of the scales row, never a shuffle join of the corpus
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_column_profile_single_pass_and_errors(spark):
    """All per-column statistics must come from ONE aggregate over ONE scan
    (a stack unpivot, never a per-column union of scans), and min/max must
    aggregate the native type, not its string rendering."""
    from fineo_readerator_spark.operators.audit import column_profile

    df = spark.createDataFrame(
        [(9, None), (10, "b"), (None, "a")], "n long, s string"
    )
    out = {r.col_name: r for r in column_profile(df, "t").collect()}
    # native-typed min/max: 9 < 10 numerically (lexically '10' < '9')
    assert (out["n"].min_val, out["n"].max_val) == ("9", "10")
    assert (out["n"].n_nulls, out["n"].n_distinct) == (1, 2)
    assert (out["s"].min_val, out["s"].max_val) == ("a", "b")
    plan = column_profile(df, "t")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") <= 1 and "Union" not in plan, plan
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one column"):
        column_profile(df.select([]), "t")


def test_cdc_chunk_dedup_removes_cross_doc_duplicates(spark):
    """A paragraph duplicated in a second document lands in identical
    content-defined chunks, so first-occurrence dedup keeps it only in the
    lower (doc_id, chunk_idx) and the unique material in both docs
    survives."""
    from fineo_readerator_spark.llm_ops.textstats import cdc_chunk_dedup

    shared = "alpha beta gamma delta epsilon zeta eta theta " * 3
    df = spark.createDataFrame(
        [(1, (shared + "unique one tail").strip()),
         (2, ("prefix two " + shared).strip())],
        "doc_id long, text string",
    )
    out = cdc_chunk_dedup(df, divisor=4).collect()
    texts = {(r.doc_id, r.chunk_text) for r in out}
    # every surviving chunk text is globally unique
    assert len({r.chunk_text for r in out}) == len(out)
    # doc 2 keeps at least its unique prefix material
    assert any(d == 2 and "two" in t for d, t in texts)
    # the shared run survives somewhere exactly once
    joined = " ".join(r.chunk_text for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)))
    assert "alpha beta gamma" in joined


def test_ann_int8_ranks_by_integer_dot(spark):
    """Hand-checked integer ranking, clamp symmetry, and validation."""
    from fineo_readerator_spark.llm_ops.similarity import ann_int8_topk

    df = spark.createDataFrame(
        [
            (1, [127.0, 0.0]),    # maxabs dim0 -> q [127, 0]
            (2, [-127.0, 0.0]),   # q [-127, 0]
            (3, [63.5, 63.5]),    # q [64, 64] (half-up)
            (4, None),
        ],
        "vec_id long, embedding array<float>",
    )
    out = [(r.vec_id, r.dot_int8) for r in ann_int8_topk(df, [127.0, 0.0], k=3).collect()]
    # scales: dim0 127/127=1, dim1 63.5/127=0.5; query q=[127,0]
    assert out == [(1, 127 * 127), (3, 64 * 127), (2, -127 * 127)]
    with pytest.raises(ValueError, match="dims"):
        ann_int8_topk(df, [1.0, 2.0, 3.0], k=1, dim=2)
    with pytest.raises(ValueError, match="k must be"):
        ann_int8_topk(df, [1.0, 2.0], k=0, dim=2)


def test_label_prop_layout_query_plan_reads_stored_edges(spark):
    """s_label_prop_layout (the second persisted-layout consumer) must not
    rebuild the graph: after ensure, its executed plan carries none of the
    build machinery — proving the layout lifecycle is shared across graph
    consumers, not pagerank-specific."""
    from fineo_readerator_spark.plans.llm_queries import s_label_prop_layout

    df = s_label_prop_layout(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "array_min" not in plan and "named_struct" not in plan
    assert df.count() > 0


def test_minhash_audit_counts_and_gate(spark, docs):
    """Audit semantics on the small corpus: exact dups land as true
    positives, the sampled recall leg counts only in-sample pairs, and the
    quadratic sample leg refuses to run past max_sample_docs."""
    from fineo_readerator_spark.llm_ops.dedup import minhash_audit

    doubled = docs.unionAll(
        docs.selectExpr("doc_id + 1000 AS doc_id", "text")
    )
    row = minhash_audit(
        doubled, "doc_id", "text", threshold=0.9, sample_mod=1
    ).collect()[0]
    # exact duplicate pairs (jaccard 1.0) must all be candidates AND true
    assert row.n_candidates >= 6 and row.true_pos >= 6
    assert row.false_pos == row.n_candidates - row.true_pos
    # sample_mod=1 samples everything: the pipeline caught every true pair
    # here, so recall is perfect and precision <= 1e6 by construction
    assert row.recall_ppm == 1_000_000
    assert 0 < row.precision_ppm <= 1_000_000
    assert row.sample_caught <= row.sample_true_pairs

    with pytest.raises(ValueError, match="max_sample_docs"):
        minhash_audit(doubled, "doc_id", "text", sample_mod=1, max_sample_docs=3)


def test_graph_triangles_plan_reads_stored_edges_and_counts(spark):
    """s_graph_triangles (third layout consumer) must not rebuild the graph,
    and its combinatorics must be internally consistent: sum of per-node
    triangle counts = 3 x the number of distinct triangles."""
    from fineo_readerator_spark.plans.llm_queries import s_graph_triangles

    df = s_graph_triangles(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "array_min" not in plan and "named_struct" not in plan
    rows = df.collect()
    assert len(rows) > 0
    assert sum(r.triangles for r in rows) % 3 == 0
    for r in rows:
        assert 0 <= r.clustering_ppm <= 1_000_000


def test_mmr_rerank_diversifies_and_gates(spark):
    """Three near-copies of the relevant direction + one orthogonal-ish
    vector: plain top-3 is the three copies; MMR at low lambda must swap
    the diversity pick in. Gates: bad lambda / k > shortlist / collect cap."""
    from fineo_readerator_spark.llm_ops.similarity import cosine_topk, mmr_rerank

    rows = [
        (1, [1.0, 0.0, 0.01]),
        (2, [1.0, 0.0, 0.02]),   # near-copy of 1
        (3, [1.0, 0.0, 0.03]),   # near-copy of 1
        (4, [0.5, 0.9, 0.0]),    # diverse, still relevant-ish
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 0.05, 0.0]
    plain = [r.vec_id for r in cosine_topk(df, q, k=3).collect()]
    assert 4 not in plain
    mmr = mmr_rerank(df, q, k=3, shortlist=4, lam=0.3)
    picked = [r.vec_id for r in mmr.orderBy("rank").collect()]
    assert 4 in picked  # diversity pick displaced a near-copy
    assert len(picked) == 3 and picked[0] == plain[0]  # first pick = max rel

    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(df, q, lam=1.5)
    with pytest.raises(ValueError, match="k <= shortlist"):
        mmr_rerank(df, q, k=5, shortlist=3)
    with pytest.raises(ValueError, match="max_shortlist"):
        mmr_rerank(df, q, k=2, shortlist=4, max_shortlist=2)


def test_calibration_table_hand_computed(spark):
    from fineo_readerator_spark.llm_ops.classifier import calibration_table

    rows = [
        (0.05, True), (0.08, False),          # bin 0: 1/2 pos
        (0.95, True), (0.99, True), (1.0, True),  # bin 9 (1.0 clamps): 3/3
        (None, True), (0.5, None),            # unscorable/unlabeled drop
    ]
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = {r.bin: (r.n, r.n_pos, r.pos_rate_ppm) for r in calibration_table(df).collect()}
    assert out[0] == (2, 1, 500_000)
    assert out[9] == (3, 3, 1_000_000)
    assert set(out) == {0, 9}
    import pytest as _pt

    with _pt.raises(ValueError, match="n_bins"):
        calibration_table(df, n_bins=1)


def test_bpe_doc_tokens_sums_to_fertility_totals(spark):
    """Per-doc token budgets must reconcile with the fertility report: both
    encode under the same corpus-trained merges, so per-group sums agree."""
    from fineo_readerator_spark.llm_ops.tokenizer import bpe_doc_tokens, bpe_fertility

    rows = [
        (1, "en", "the cat sat on the mat"),
        (2, "en", "the cat ran"),
        (3, "de", "der hund lief schnell davon heute"),
        (4, "de", "der hund"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    per_doc = {r.doc_id: (r.n_words, r.n_tokens) for r in bpe_doc_tokens(df, n_merges=3).collect()}
    fert = {r.lang: (r.n_words, r.n_tokens) for r in bpe_fertility(df, n_merges=3).collect()}
    by_lang = {}
    for did, lang, _ in rows:
        w, t = per_doc[did]
        aw, at = by_lang.get(lang, (0, 0))
        by_lang[lang] = (aw + w, at + t)
    assert by_lang == fert
    # merges compress: token count strictly below character count somewhere
    assert any(t < sum(len(w) for w in dict(
        (r[0], r[2]) for r in rows)[d].split()) for d, (_, t) in per_doc.items())


def test_ppr_layout_plan_reads_stored_edges_and_concentrates(spark):
    """s_ppr_layout (fourth layout consumer) must not rebuild the graph;
    PPR semantics: total mass <= 1 (dangling decay), every seed carries its
    teleport floor, and seed rows average strictly more mass than
    non-seeds (the walk concentrates around the seed set)."""
    from fineo_readerator_spark.plans.llm_queries import s_ppr_layout

    df = s_ppr_layout(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "array_min" not in plan and "named_struct" not in plan
    rows = df.collect()
    assert len(rows) > 0
    total = sum(r.ppr for r in rows)
    assert 0 < total <= 1.0 + 1e-9
    seeds = [r.ppr for r in rows if r.is_seed]
    rest = [r.ppr for r in rows if not r.is_seed]
    assert seeds and rest
    # every seed keeps at least the teleport term (0.15 / n_seeds)
    floor = (1.0 - 0.85) / len(seeds)
    assert all(p >= floor - 1e-12 for p in seeds)
    assert sum(seeds) / len(seeds) > sum(rest) / len(rest)


def test_personalized_pagerank_empty_seed_raises(spark):
    from fineo_readerator_spark.llm_ops.similarity import personalized_pagerank
    import pytest as _pt

    edges = spark.createDataFrame(
        [(1, 2), (2, 1)], "vec_id long, nbr_id long"
    )
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with _pt.raises(ValueError, match="seed_pred"):
        personalized_pagerank(df, df.vec_id > 100, graph=edges)


def test_pagerank_empty_graph_raises(spark):
    from fineo_readerator_spark.llm_ops.similarity import pagerank

    edges = spark.createDataFrame([], "vec_id long, nbr_id long")
    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="knn graph is empty"):
        pagerank(df, graph=edges)


def test_pagerank_is_the_all_seeds_personalized_walk(spark):
    """Global PageRank equals personalized PageRank with every node a seed,
    row for row, and with ``graph=`` it never reads the corpus frame (no
    seed-flag join): an embedding column that raises when evaluated is
    never touched."""
    from fineo_readerator_spark.llm_ops.similarity import (
        pagerank,
        personalized_pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 3), (5, 3)], "vec_id long, nbr_id long"
    )
    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(1, 6)], "vec_id long, embedding array<double>"
    )
    ppr = personalized_pagerank(df, F.lit(True), n_iters=3, graph=edges).collect()
    unreadable = df.select("vec_id", F.raise_error(F.lit("corpus read")).alias("embedding"))
    pr = pagerank(unreadable, n_iters=3, graph=edges).collect()
    assert len(pr) == 5 and all(r.is_seed for r in ppr)
    assert [(r.vec_id, r.pagerank) for r in pr] == [(r.vec_id, r.ppr) for r in ppr]


def test_graph_degree_profile_hand_counts(spark):
    """Tiny hand-checkable graph: 1->2, 2->1, 1->3.  All three nodes have
    in-degree 1; of the 3 directed edges, the (1,2)/(2,1) pair is
    reciprocal (2 reciprocated edges), so recip_ppm = half-up(2/3 * 1e6)."""
    from fineo_readerator_spark.llm_ops.similarity import graph_degree_profile

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3)], "vec_id long, nbr_id long"
    )
    rows = graph_degree_profile(edges).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.in_degree, r.n_nodes, r.recip_edges) == (1, 3, 2)
    assert r.recip_ppm == 666667


def test_readability_hand_values(spark):
    """'The cat sat. It ran!' -> W=5, S=2, syllables 1 each (Y=5):
    flesch = 206.835 - 1.015*(5/2) - 84.6*(5/5) = 119.6975 -> 119698 milli
    (half-up).  A vowel-free token floors at 1 syllable; dense legalese
    clamps at 0 instead of going negative."""
    from fineo_readerator_spark.llm_ops.textstats import readability

    rows = [
        (1, "The cat sat. It ran!"),
        (2, "zzz shh"),  # no vowels: 1-syllable floor per word
        (3, "extraordinarily incomprehensibilities notwithstanding"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in readability(df).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (5, 2, 5)
    assert r1.flesch_milli == 119698
    r2 = out[2]
    assert (r2.n_words, r2.n_syllables) == (2, 2)
    # doc 3: one long-word sentence -> strongly negative raw score, clamped
    assert out[3].flesch_milli == 0


def test_media_near_dup_chunk_dominance(spark):
    """SimHash dominance: a payload of 64 identical chunks and a variant
    with ONE chunk swapped share every bit vote's majority, so they hash
    identically (hamming 0) and the variant drops; an unrelated payload
    (different dominant chunk) survives.  chunk_bytes gate raises."""
    import pytest as _pt

    from fineo_readerator_spark.llm_ops.multimodal import media_near_dup

    c1, c2, c3 = b"ABCD", b"WXYZ", b"1234"
    rows = [
        (1, c1 * 64),
        (2, c1 * 63 + c2),   # one-chunk variant: same dominant votes
        (3, c3 * 64),        # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    kept = sorted(
        r.doc_id for r in media_near_dup(df, "doc_id", "payload").collect()
    )
    assert kept == [1, 3]
    with _pt.raises(ValueError, match="chunk_bytes"):
        media_near_dup(df, "doc_id", "payload", chunk_bytes=0)


def test_kcore_peel_hand_graph(spark):
    """Triangle 1-2-3 plus pendant edge 3-4: the 2-core peel removes the
    degree-1 pendant, survivors are the triangle with in-core degree 2;
    parameter gates raise."""
    import pytest as _pt

    from fineo_readerator_spark.llm_ops.similarity import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "vec_id long, nbr_id long"
    )
    rows = {r.vec_id: r.core_degree for r in kcore_peel(edges, k=2, n_rounds=3).collect()}
    assert rows == {1: 2, 2: 2, 3: 2}
    with _pt.raises(ValueError, match="k must"):
        kcore_peel(edges, k=0)
    with _pt.raises(ValueError, match="n_rounds"):
        kcore_peel(edges, n_rounds=0)


def test_power_iteration_finds_dominant_direction(spark):
    """Corpus stretched along dim 0 (variance 10^2 scale) with tiny dim-1
    noise: two power rounds must attribute nearly all centered variance to
    the top direction; the gate raises on n_iters < 1."""
    import pytest as _pt

    from fineo_readerator_spark.llm_ops.similarity import power_iteration_top

    rows = [(i, [float(10 * i), float((i % 3) - 1) * 0.01]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = power_iteration_top(df, n_iters=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n, r.dim) == (20, 2)
    assert r.var_total > 0
    assert r.top_share > 0.999
    assert r.var_top <= r.var_total + 1e-9
    with _pt.raises(ValueError, match="n_iters"):
        power_iteration_top(df, n_iters=0)


def test_phrase_search_consecutive_only(spark):
    """'new york' matches only consecutive occurrences (doc 1 twice, doc 3
    once); reversed/bag-of-words co-occurrence (doc 2) must NOT match;
    single-token phrases raise."""
    import pytest as _pt

    from fineo_readerator_spark.llm_ops.retrieval import phrase_search

    rows = [
        (1, "new york is new york"),
        (2, "york new and also york then new"),
        (3, "i love new york city"),
        (4, "nothing here"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n_matches
           for r in phrase_search(df, "new york").collect()}
    assert got == {1: 2, 3: 1}
    with _pt.raises(ValueError, match="phrase"):
        phrase_search(df, "york")


def test_media_near_dup_keeps_partial_tail_and_sub_chunk_payloads(spark):
    """r10 regression (ADVICE find): the old `.{2k}` chunk regexp dropped a
    trailing partial chunk, so payloads SHORTER than chunk_bytes tokenized
    to the empty string and all collapsed together as near-dups.  With the
    greedy `.{1,2k}` pattern a sub-chunk payload hashes its actual bytes:
    two unrelated 2-byte payloads (chunk_bytes=4) must BOTH survive, and a
    payload differing from another only in its partial tail is now
    distinguishable by that tail's vote."""
    from fineo_readerator_spark.llm_ops.multimodal import media_near_dup

    rows = [
        (1, b"\x00\x01"),          # sub-chunk payload A
        (2, b"\xfe\xff"),          # unrelated sub-chunk payload B
        (3, b"ABCDABCDABCDAB"),    # 3.5 chunks: partial tail "AB"
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    kept = sorted(
        r.doc_id
        for r in media_near_dup(df, "doc_id", "payload", chunk_bytes=4).collect()
    )
    assert kept == [1, 2, 3]


def test_edit_distance_verify_hand_pairs(spark):
    """Candidate (1,2) differs by one char in 10 -> 100000 ppm, kept at the
    default 20% bound; (1,3) is unrelated (high distance) and filtered;
    the non-ASCII fold makes 'héllo'-vs-'hello' distance 0 on BOTH faces
    (each non-ASCII codepoint becomes '#', so DuckDB's byte-based
    levenshtein agrees with Spark's char-based one)."""
    import pytest as _pt

    from fineo_readerator_spark.llm_ops.dedup import edit_distance_verify

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghiX"), (3, "zzzzzzzzzz"),
         (4, "héllo"), (5, "h#llo")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "id_a long, id_b long"
    )
    out = {(r.id_a, r.id_b): r for r in
           edit_distance_verify(docs, pairs, "doc_id", "text").collect()}
    assert (1, 3) not in out
    r12 = out[(1, 2)]
    assert (r12.edit_dist, r12.dist_ppm) == (1, 100000)
    r45 = out[(4, 5)]  # é folds to '#': identical after fold
    assert (r45.edit_dist, r45.dist_ppm) == (0, 0)
    with _pt.raises(ValueError, match="prefix_chars"):
        edit_distance_verify(docs, pairs, prefix_chars=0)
    with _pt.raises(ValueError, match="max_dist_ppm"):
        edit_distance_verify(docs, pairs, max_dist_ppm=2_000_000)


def test_neighbor_jaccard_hand_graph_and_hub_cap(spark):
    """1 and 2 share both their neighbors (jac 2/2); with max_in_degree=2
    the hub node 9 (in-degree 3) leaves every neighbor set, emptying the
    overlap of 5,6,7 (their only shared neighbor was the hub)."""
    import pytest as _pt

    from fineo_readerator_spark.llm_ops.similarity import neighbor_jaccard

    edges = [(1, 10), (1, 11), (2, 10), (2, 11),
             (5, 9), (6, 9), (7, 9), (5, 20), (6, 21), (7, 22)]
    df = spark.createDataFrame(edges, "vec_id long, nbr_id long")
    out = {(r.id_a, r.id_b): r for r in
           neighbor_jaccard(df, "vec_id", top_pairs=10, max_in_degree=2).collect()}
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    assert (r.inter, r.union_sz, r.jac_ppm) == (2, 2, 1_000_000)
    # without the cap the hub wedges surface 5/6/7 pairs at jac 1/3
    out2 = {(r.id_a, r.id_b): r.jac_ppm for r in
            neighbor_jaccard(df, "vec_id", top_pairs=10, max_in_degree=64).collect()}
    assert out2[(5, 6)] == 333333  # half-up(1e6/3)
    with _pt.raises(ValueError, match="top_pairs"):
        neighbor_jaccard(df, top_pairs=0)
    with _pt.raises(ValueError, match="max_in_degree"):
        neighbor_jaccard(df, max_in_degree=0)


def test_zipf_fit_hand_corpus(spark):
    """Frequencies 4/2/1 over ranks 1/2/3 through the same nano-ln integer
    model in Python must reproduce the slope exactly; a single-token
    source has zero x-variance and is absent."""
    import math

    import pytest as _pt

    from fineo_readerator_spark.llm_ops.textstats import zipf_fit

    docs = [("s1", "a a a a b b c"), ("s2", "only only only")]
    df = spark.createDataFrame(docs, "source string, text string")
    out = {r.source: r for r in zipf_fit(df, "source", "text").collect()}
    assert set(out) == {"s1"}
    xy = [
        (round(math.log(r) * 1e9), round(math.log(f) * 1e9))
        for r, f in [(1, 4), (2, 2), (3, 1)]
    ]
    n = len(xy)
    sx, sy = sum(x for x, _ in xy), sum(y for _, y in xy)
    sxy = sum(x * y for x, y in xy)
    sxx = sum(x * x for x, _ in xy)
    slope = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    r1 = out["s1"]
    assert (r1.n_ranks, r1.zipf_slope) == (3, slope)
    assert r1.zipf_slope == _pt.approx(-1.2337, abs=0.001)  # steeper than -1
    with _pt.raises(ValueError, match="top_ranks"):
        zipf_fit(df, top_ranks=1)


def test_code_detect_hand_values(spark):
    """A Python snippet trips all three signals; plain prose trips none;
    an indent-only doc (3+ indented lines) routes to code without
    symbols or keywords; empty docs are absent."""
    from fineo_readerator_spark.llm_ops.textstats import code_detect

    code = "def f(x):\n    return x + 1\n    # done\nimport os\nclass A:\n    pass"
    prose = "The quick brown fox jumps over the lazy dog again and again."
    indent = "a\n    b\n    c\n    d"
    rows = [(1, code), (2, prose), (3, indent), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in code_detect(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].is_code and out[1].kw_hits >= 3 and out[1].indent_lines == 3
    assert not out[2].is_code and out[2].sym_milli == 0 and out[2].kw_hits == 0
    assert out[3].is_code and out[3].indent_lines == 3 and out[3].sym_milli == 0


def test_cluster_source_purity_hand_clusters(spark):
    """Docs 1/2 are exact twins across sources A and B -> one 2-member
    cluster with 2 sources at 500000 ppm; doc 3's near-identical pair 4
    shares source C -> pure cluster at 1000000 ppm; the singleton 5 is
    absent (no multi-member cluster)."""
    from fineo_readerator_spark.llm_ops.dedup import cluster_source_purity

    base = "the same long piece of shared text that minhash will catch easily"
    other = "an entirely unrelated second document about orbital mechanics and tides"
    rows = [
        (1, base, len(base), "A"),
        (2, base, len(base), "B"),
        (3, other, len(other), "C"),
        (4, other, len(other), "C"),
        (5, "completely different content with no twin anywhere at all", 58, "D"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long, source string")
    out = sorted(
        (r.cluster_id, r.n_members, r.n_sources, r.top_share_ppm)
        for r in cluster_source_purity(df).collect()
    )
    assert (1, 2, 2, 500000) in out or any(
        m >= 2 and s >= 2 and p == 500000 for _, m, s, p in out
    )
    assert any(s == 1 and p == 1000000 for _, m, s, p in out)
    assert all(m >= 2 for _, m, s, p in out)


def test_byte_entropy_hand_values(spark):
    """A constant payload has entropy 0; a 2-symbol 50/50 payload exactly
    1 bit/byte; empty payloads are absent."""
    from fineo_readerator_spark.llm_ops.multimodal import byte_entropy

    rows = [(1, b"\x00" * 64), (2, b"\x00\xff" * 32), (3, b"")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in byte_entropy(df, "doc_id", "payload").collect()}
    assert set(out) == {1, 2}
    assert (out[1].size_bytes, out[1].n_distinct_bytes, out[1].entropy) == (64, 1, 0.0)
    assert (out[2].size_bytes, out[2].n_distinct_bytes, out[2].entropy) == (64, 2, 1.0)


def test_ngram_novelty_hand_values(spark):
    """Doc 1 IS the reference -> novelty 0; doc 2 shares nothing -> 10^6;
    doc 3 overlaps partially; an empty doc is absent."""
    from fineo_readerator_spark.llm_ops.textstats import ngram_novelty

    ref_text = "alpha beta gamma delta epsilon"
    rows = [
        (1, ref_text),
        (2, "one two three four five six"),
        (3, "alpha beta gamma zeta eta theta"),
        (4, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = df.filter(F.col("doc_id") == 1)
    out = {r.doc_id: r for r in ngram_novelty(df, ref).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1].n_unseen, out[1].novelty_ppm) == (0, 0)
    assert out[2].novelty_ppm == 1_000_000 and out[2].n_unseen == out[2].n_grams
    # doc 3: 4 distinct 3-grams, only 'alpha beta gamma' seen -> 3/4 unseen
    assert (out[3].n_grams, out[3].n_unseen, out[3].novelty_ppm) == (4, 3, 750000)


def test_epoch_plan_hand_values(spark):
    """Budget 1000 over two sources: quota 500 each; source A (1000 tokens)
    fills its quota in half an epoch; source B (50 tokens) caps at 4
    epochs = 200 tokens and reports the 300-token shortfall."""
    import pytest as _pt

    from fineo_readerator_spark.llm_ops.sampling import epoch_plan

    rows = [("A", 600), ("A", 400), ("B", 50)]
    df = spark.createDataFrame(rows, "source string, n_tokens long")
    out = {r.source: r for r in
           epoch_plan(df, total_budget=1000, max_epochs=4).collect()}
    a, b = out["A"], out["B"]
    assert (a.quota_tokens, a.alloc_tokens, a.epochs_milli, a.shortfall_tokens,
            a.starved) == (500, 500, 500, 0, False)
    assert (b.quota_tokens, b.alloc_tokens, b.epochs_milli, b.shortfall_tokens,
            b.starved) == (500, 200, 4000, 300, True)
    with _pt.raises(ValueError, match="total_budget"):
        epoch_plan(df, total_budget=0)
    with _pt.raises(ValueError, match="max_epochs"):
        epoch_plan(df, max_epochs=0)


def test_dup_inflation_hand_values(spark):
    """Two exact twins + one singleton, char-weighted: 3 docs, 2 in one
    cluster, 1 removable; removable weight = the non-representative
    twin's chars; ppm is half-up over the weight total."""
    from fineo_readerator_spark.llm_ops.dedup import dup_inflation

    t = "the same long piece of shared text that minhash will catch easily"
    rows = [(1, t, len(t)), (2, t, len(t)),
            (3, "a totally different text with no twin in this corpus", 53)]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    r = dup_inflation(df, weight_col="n_chars").collect()[0]
    total = 2 * len(t) + 53
    assert (r.n_docs, r.docs_in_clusters, r.removable_docs) == (3, 2, 1)
    assert (r.total_weight, r.removable_weight) == (total, len(t))
    assert r.removable_ppm == (len(t) * 2_000_000 + total) // (total * 2)
    # doc-count weighting: removable 1 of 3
    r2 = dup_inflation(df).collect()[0]
    assert (r2.total_weight, r2.removable_weight) == (3, 1)
    assert r2.removable_ppm == 333333
