"""Large-scale training-data pipeline operators.

Beyond the reference's own surface (BASELINE.json north star): deduplication
(exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity
search (brute-force + LSH-bucketed ANN), multimodal column plumbing, and text
analysis — every operator expressed as distributed DataFrame transforms with
no driver-side collects, designed for 100 TB inputs.
"""

from fineo_readerator_spark.llm_ops.textstats import (
    language_id,
    text_fingerprint,
    with_text_stats,
)
from fineo_readerator_spark.llm_ops.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_dedup,
    minhash_signature,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_dedup,
    simhash_halves,
)
from fineo_readerator_spark.llm_ops.multimodal import (
    attach_media_metadata,
    decode_and_featurize,
    sample_frames,
)
from fineo_readerator_spark.llm_ops.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    semantic_dedup,
    ivf_assign,
    ivf_topk,
    lsh_bucketed_topk,
)

__all__ = [
    "with_text_stats",
    "language_id",
    "text_fingerprint",
    "exact_dedup",
    "minhash_signature",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_dedup",
    "simhash_dedup",
    "simhash_halves",
    "ngram_jaccard_pairs",
    "cosine_topk",
    "semantic_dedup",
    "lsh_bucketed_topk",
    "ivf_assign",
    "ivf_topk",
    "embedding_near_dup_pairs",
    "attach_media_metadata",
    "decode_and_featurize",
    "sample_frames",
]
