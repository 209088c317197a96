"""Degenerate-input hardening: empty sources, single rows, NULL keys.

At 100 TB these shapes appear constantly (an empty partition after a
selective filter, a brand-new tenant with no data yet, null-text rows from
upstream extractors); an operator that throws on them fails the whole job.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, n_chars long")


def test_exact_and_minhash_dedup_on_empty_and_singleton(spark):
    from fineo_readerator_spark.llm_ops.dedup import exact_dedup, minhash_dedup

    empty = _empty_docs(spark)
    assert exact_dedup(empty, "doc_id").count() == 0
    assert minhash_dedup(empty, "doc_id").count() == 0
    one = spark.createDataFrame([(1, "only doc here", 13)], "doc_id long, text string, n_chars long")
    assert exact_dedup(one, "doc_id").count() == 1
    assert minhash_dedup(one, "doc_id").count() == 1


def test_dedup_null_text_rows_survive(spark):
    from fineo_readerator_spark.llm_ops.dedup import exact_dedup, minhash_signatures

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text content")], "doc_id long, text string"
    )
    # exact dedup: both NULLs hash alike (md5(NULL) = NULL group) — keep min id
    kept = sorted(r.doc_id for r in exact_dedup(df, "doc_id").collect())
    assert kept == [1, 3]
    # signatures: NULL text must not kill the job
    sigs = minhash_signatures(df, "doc_id")
    assert sigs.count() <= 3


def test_cosine_topk_k_exceeds_corpus(spark):
    from fineo_readerator_spark.llm_ops.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5])], "vec_id long, embedding array<float>"
    )
    out = cosine_topk(emb, [1.0, 0.0], k=10)
    assert out.count() == 2


def test_hll_empty_input_consistent(spark):
    from fineo_readerator_spark.llm_ops.sketches import hll_estimate

    out = hll_estimate(_empty_docs(spark), F.col("text")).collect()
    assert len(out) == 1 and out[0]["registers_set"] == 0


def test_salted_join_empty_small_side(spark):
    from fineo_readerator_spark.operators.scale import salted_join

    big = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
    small = spark.createDataFrame([], "k string, v long")
    assert salted_join(big, small, ["k"], salt_from="id").count() == 0
    assert salted_join(big, small, ["k"], salt_from="id", how="left").count() == 2


def test_metric_read_with_all_rows_filtered(spark, sf_dir):
    from fineo_readerator_spark.plans.metric_queries import events_store, ORG, METRIC
    from fineo_readerator_spark.recombinator import build_metric_df

    df = build_metric_df(
        spark, events_store(sf_dir), ORG, METRIC, predicate="value < -1e18"
    )
    assert df.count() == 0
    assert "timestamp" in df.columns  # schema intact on the empty result


def test_bigram_lm_all_docs_too_short(spark):
    from fineo_readerator_spark.llm_ops.textstats import bigram_lm_scores

    df = spark.createDataFrame([(1, "one"), (2, None)], "doc_id long, text string")
    assert bigram_lm_scores(df).count() == 0


def test_chunking_empty_and_null_text(spark):
    from fineo_readerator_spark.llm_ops.textstats import chunk_documents

    df = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    # must not throw; empty/NULL text yields no (or empty) chunks
    assert chunk_documents(df).count() <= 2


def test_incremental_flags_empty_delta(spark, tmp_path):
    from fineo_readerator_spark.llm_ops.dedup import (
        incremental_minhash_flags,
        write_signature_store,
    )

    base = spark.createDataFrame([(1, "stored corpus text here")], "doc_id long, text string")
    store = str(tmp_path / "s")
    write_signature_store(base, store)
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert incremental_minhash_flags(store, empty).count() == 0


def test_signature_store_empty_base_probes_clean(spark, tmp_path):
    from fineo_readerator_spark.llm_ops.dedup import (
        incremental_minhash_flags,
        write_signature_store,
    )

    store = str(tmp_path / "empty_store")
    empty = spark.createDataFrame([], "doc_id long, text string")
    write_signature_store(empty, store)  # brand-new tenant: no corpus yet
    delta = spark.createDataFrame([(10, "first ever document")], "doc_id long, text string")
    out = incremental_minhash_flags(store, delta).collect()
    assert len(out) == 1 and not out[0].is_dup and out[0].n_dup_bases == 0


def test_signature_store_probe_uses_stored_params(spark, tmp_path):
    """A store built with a non-default hash family must be probed with
    THAT family (from its meta) — a caller can no longer pass mismatched
    parameters and get silent false negatives."""
    from fineo_readerator_spark.llm_ops.dedup import (
        incremental_minhash_flags,
        read_store_meta,
        write_signature_store,
    )

    store = str(tmp_path / "p_store")
    base = spark.createDataFrame(
        [(1, "identical text stored right here today")], "doc_id long, text string"
    )
    write_signature_store(base, store, bands=8, seed=7)
    assert read_store_meta(spark, store)["bands"] == 8
    delta = spark.createDataFrame(
        [(10, "identical text stored right here today")], "doc_id long, text string"
    )
    out = incremental_minhash_flags(store, delta).collect()
    assert out[0].is_dup and out[0].best_est == 1.0


def test_read_store_meta_missing_raises(spark, tmp_path):
    import pytest

    from fineo_readerator_spark.llm_ops.dedup import read_store_meta

    with pytest.raises(ValueError, match="rebuild"):
        read_store_meta(spark, str(tmp_path / "nope"))
