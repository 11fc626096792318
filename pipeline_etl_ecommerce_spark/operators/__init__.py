from .allocation import AllocSpec, allocate_ratio_to_parent, allocate_by_share
from .ranking import first_per_group, top_k_per_group, rank_capture
from .dedupe import (
    minhash_band_keys,
    minhash_candidate_pairs,
    simhash32,
    ngram_jaccard_pairs,
)
from .similarity import cosine_topk, embedding_norms
from .textstats import lang_id, quality_features, token_count, bpe_ish_token_count, fingerprint
from .multimodal import extract_features, documents_as_media
from .importance import dsir_importance_weights, hashed_bucket_distribution
from .pq import pq_adc_topk, pq_codebooks, pq_encode
from .graph import pagerank_undirected
from .bpe import learn_bpe_merges, word_frequencies

__all__ = [
    "AllocSpec",
    "allocate_ratio_to_parent",
    "allocate_by_share",
    "first_per_group",
    "top_k_per_group",
    "rank_capture",
    "minhash_band_keys",
    "minhash_candidate_pairs",
    "simhash32",
    "ngram_jaccard_pairs",
    "cosine_topk",
    "embedding_norms",
    "lang_id",
    "quality_features",
    "token_count",
    "bpe_ish_token_count",
    "fingerprint",
    "extract_features",
    "documents_as_media",
    "dsir_importance_weights",
    "hashed_bucket_distribution",
    "pq_adc_topk",
    "pq_codebooks",
    "pq_encode",
    "pagerank_undirected",
    "learn_bpe_merges",
    "word_frequencies",
]
